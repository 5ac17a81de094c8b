"""Pipeline benchmark of insight_spark; see ``perfbench/README.md``."""
