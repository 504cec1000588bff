"""The driver queries, one module per family.  Each Spark builder carries
its DuckDB oracle (`common.oracle`); `__spark_entry__.queries()` lists
them in the driver's sampling order."""
