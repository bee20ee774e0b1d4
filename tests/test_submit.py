"""north_rule launch-path gate: the pipeline must run via
``spark-submit --py-files dist/kgpipe.zip`` (the cluster deployment shape,
BASELINE.json). The submit happens from a TEMP cwd with only the driver
script copied there and PYTHONPATH scrubbed, so ``import kgpipe`` can only
be satisfied by the zip — in-place submission would silently resolve the
package from the repo checkout and prove nothing about the artifact."""

from __future__ import annotations

import json
import os
import shutil
import subprocess

from kgpipe.fixtures.generator import FIXTURES_DIR, materialize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def test_spark_submit_pyfiles_zip(tmp_path):
    if not os.path.exists(SPARK_SUBMIT):
        import pytest

        pytest.skip("spark-submit not on PATH")
    from package_pyfiles import build

    zip_path = build()
    driver = tmp_path / "run_pipeline.py"
    shutil.copy(os.path.join(REPO, "run_pipeline.py"), driver)
    fixture = materialize("unit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out_dir = tmp_path / "kg_out"
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[8]", "--py-files", zip_path,
         str(driver),
         "--input", fixture,
         "--output", str(out_dir), "--eval"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [ln for ln in proc.stdout.strip().splitlines()
            if ln.startswith("{")][-1]
    rec = json.loads(line)
    assert rec["metrics"]["precision"] == 1.0
    assert rec["metrics"]["recall"] == 1.0
    assert rec["triples"] > 0
    assert rec["stage_counters"]["totals"]["numStages"] > 0


def test_fixtures_resolve_in_this_checkout():
    """Fixtures are cached in the checkout that holds these tests, so a
    copy of the repo reads and writes its own ``.fixtures/``."""
    want = os.path.join(REPO, ".fixtures")
    assert FIXTURES_DIR == want
    assert os.path.dirname(materialize("unit")) == want
