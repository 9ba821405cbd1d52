"""Link-graph benchmark for ``hoover_spark`` (see README.md)."""
