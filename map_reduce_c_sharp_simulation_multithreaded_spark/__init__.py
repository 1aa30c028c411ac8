"""mrcs_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capabilities of the
reference repo ``mircead85/map-reduce-c-sharp-simulation-multithreaded``
(a C# threaded MapReduce simulation, ``D/Program.cs``), re-expressed
Spark-first: DataFrame/SQL logical plans, Catalyst/Tungsten physical
execution, Structured Streaming for streams, Pandas UDFs only where the
built-in operators cannot express the semantics.

Layout:
- ``session``    — the one session posture: ``local[N]`` from the
                   ``default_cpus()`` grant, AQE, skew join, UTC and
                   partition sizing, set by ``get_spark`` and by
                   ``pin_session`` (which the query registry runs).
- ``schemas``    — explicit StructTypes for every test table (no inference).
- ``catalog``    — parquet table loader / temp-view registration.
- ``sources``    — reference-dialect CSV source/sink (SURVEY.md §1.4).
- ``operators``  — joins, aggregates, windows, set ops, dedup, similarity,
                   text analysis, multimodal plumbing.
- ``plans``      — the query registry consumed by ``__spark_entry__.py``.
- ``streaming``  — Structured Streaming ops over the ``events`` table.
"""

__version__ = "0.1.0"
