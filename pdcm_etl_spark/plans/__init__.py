"""Plans: the flagship search-index build and its incremental twin, the
entity DAG runner, the SQL view layer and plan audits."""
