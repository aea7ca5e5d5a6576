"""Spark DataFrame operators: the fused extraction pipeline, dedup /
similarity-search / text-stats operators, lineage."""
