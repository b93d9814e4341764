"""jsonld_ex_spark — PySpark-native JSON-LD 1.1 knowledge-graph construction engine.

A from-scratch implementation of the W3C JSON-LD 1.1 Processing Algorithms
and API (the spec that rdf-elixir/jsonld-ex implements), re-architected for
Spark: the per-document algorithms live in ``jsonld_ex_spark.core`` as pure
Python (no Spark imports, unit-testable against the W3C fixtures), and the
distributed pipeline (transcript ingestion, mention detection, entity
linking, document assembly, triple materialization) lives in
``jsonld_ex_spark.operators`` / ``pipeline`` as DataFrame + Arrow pandas-UDF
stages.

Importing the package inside a Python worker, which the first task of a
worker does when it unpickles one of the package's functions, installs
``worker_imports.keep_zip_directories``: the worker's later tasks no
longer re-read every zip archive's directory before they start.  It does
nothing in the driver.

Reference parity: /root/reference (jsonld-ex v1.0.1, Elixir).  Behavior is
matched from the W3C spec + the reference's test expectations; no code is
translated from it.
"""

from jsonld_ex_spark.core.api import (  # noqa: F401
    compact,
    expand,
    flatten,
    from_rdf,
    to_rdf,
)

from jsonld_ex_spark.worker_imports import keep_zip_directories

__version__ = "0.1.0"

keep_zip_directories()
