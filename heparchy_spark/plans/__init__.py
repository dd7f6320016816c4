"""Plan inspection & scale-property assertions (SURVEY.md §4, §6).

The reference's performance model reduces to measurable plan properties
(BASELINE.md): point lookups prune partitions (P3), counts are metadata-only
(P5), projections prune Parquet columns (P1). These helpers read the
physical plan so tests and operators can ASSERT those properties instead of
hoping — the 100 TB failure mode is a plan that silently stopped pruning.
"""

from heparchy_spark.plans.inspect import *  # noqa: F403
from heparchy_spark.plans.inspect import __all__
