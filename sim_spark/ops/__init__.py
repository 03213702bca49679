"""Composite operators Spark lacks natively (SURVEY.md §4.3).

Each helper is a pure DataFrame composition — no Python row code — so
the resulting plans are shuffle-bounded and survive cluster-scale
inputs. Band joins have no helper here: a plain ``DataFrame.join`` or
``spark.sql`` band predicate is replanned by the compiled Catalyst rule
that :func:`sim_spark.ops.sqlband.install_sql_band_extension` installs.
"""

from sim_spark.ops.asof import asof_join_backward, auto_asof  # noqa: F401
from sim_spark.ops.exact_sum import grouped_exact_sums  # noqa: F401
