"""The query registry: one module per operator layer.

Each module pairs its queries with their DuckDB-ANSI oracles and ends
with one ``CATALOG`` dict, query name → (query function, oracle SQL).
A query function takes ``(spark, sf_dir)`` and reads the driver's test
lake through ``sources/lake.py``. ``__spark_entry__`` merges the layers.

Placement rule: a query lives in the layer of the ``operators/`` or
``streaming/`` module it calls. A query that calls no operator module
is ``relational``, and so is one that calls ``cdc`` or ``layout``; one
that calls ``sketches`` or ``assoc`` is ``analytics``. The flagship
search-index build and its incremental twin are ``flagship``. A query
that calls two layers goes with its primary operator.

Determinism rules used throughout (both sides):
- money / double aggregation goes through DECIMAL casts (exact, engine-
  independent) with an explicit final scale so textual forms also agree;
- ratios use ``floor(x * 10000)`` basis points instead of ``round`` (no
  rounding-mode ambiguity);
- arrays are ``array_sort``-ed (collect_set order is nondeterministic);
- every top-k has a total-order tiebreak.
"""
