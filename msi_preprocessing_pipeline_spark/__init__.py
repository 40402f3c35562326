"""PySpark-native point-in-time feature-engineering engine.

A from-scratch re-expression of the capabilities of
``gmrukwa/msi-preprocessing-pipeline`` (a single-node Luigi DAG over dense
spectra matrices) as an idiomatic Spark library:

* ``kernels``   — pure-numpy numerical kernels (shared by the Spark UDFs and
  the single-process test oracle so both paths run identical arithmetic).
* ``operators`` — DataFrame-level operators: as-of/backfill joins, window ops
  (sessions, rolling event-time frames), dedup, similarity search, and the spectrum
  feature stages.
* ``sources``   — table loaders + the deterministic synthetic sequence
  generator.
* ``functions`` — JVM-side column expression helpers (no Python in hot path).
* ``plans``     — staged pipeline driver with checkpoint-resume and
  per-partition lineage/throughput metrics.
* ``streaming`` — streaming feature serving (``transform`` over ``readStream``).
"""

__version__ = "0.1.0"
