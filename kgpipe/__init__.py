"""kgpipe — a PySpark-native knowledge-graph construction engine.

Built from scratch against the behavior of the reference repo
``adamkhazi/information-extraction-system`` (a single-machine, per-document
CRF information extractor; see SURVEY.md §0/§2C — the reference directory was
empty at survey time, so the authoritative spec is BASELINE.json).

The engine re-expresses the reference's extraction pipeline Spark-first:

* sequence labeling (CRF-style linear model + Viterbi decode) runs as a
  vectorized Arrow/pandas UDF over transcript partitions (``operators.labeler``)
* entity-link scoring is a broadcast hash join against a candidate dictionary
  (``operators.linker``)
* relation/triple extraction per turn-window is pure window-function DataFrame
  code — no Python in the hot path (``operators.relations``)
* canonicalization is a blocked similarity join + union-find, one pandas
  function per (class, first-token) block (``operators.canon``)
* triples materialize to partitioned tables with per-partition lineage
  manifests for resume (``sources.storage``, ``operators.checkpoint``)
* importing kgpipe in a Spark Python worker stops the per-task re-read of
  its zip archives (``pyworker``)

Everything is DataFrame/Catalyst; no RDD API anywhere.
"""

__version__ = "0.1.0"

from kgpipe import pyworker as _pyworker  # noqa: E402

_pyworker.install()
