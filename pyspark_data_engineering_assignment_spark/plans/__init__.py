from pyspark_data_engineering_assignment_spark.plans.registry import QUERIES, QuerySpec

# Importing these modules registers their queries into QUERIES.
from pyspark_data_engineering_assignment_spark.plans import text_queries  # noqa: F401
from pyspark_data_engineering_assignment_spark.plans import vector_queries  # noqa: F401

# The driver's correctness gate samples the FIRST 50 registry entries in
# registration order. Oracle-bearing queries get the strong
# rows+schema+value-hash check; oracle-less ones only a rows-only check.
# Re-order the registry so every oracle-bearing query precedes every
# rows-only one (stable within each class), and pin with a test that the
# oracle-bearing count stays <= 50 - then no oracle-bearing query can
# ever fall outside the sampled window. Where a query's SQL sits is
# declared once, at its @register (``oracle`` or ``local_oracle``); some
# docs still say "Driver-window neutral (local_oracle)", but the
# @register arguments, not the doc, decide.
_ordered = {n: s for n, s in QUERIES.items() if s.oracle is not None}
_ordered.update({n: s for n, s in QUERIES.items() if s.oracle is None})
QUERIES.clear()
QUERIES.update(_ordered)

__all__ = ["QUERIES", "QuerySpec"]
