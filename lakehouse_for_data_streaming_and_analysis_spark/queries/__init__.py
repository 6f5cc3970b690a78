"""The query inventory behind ``__spark_entry__``. Each module
registers its (spark, sf_dir) -> DataFrame queries and their DuckDB
oracles through the one ``@q`` from ``registry.module()``;
``__spark_entry__`` merges the modules' registries in the order of its
``MODULES`` tuple."""
