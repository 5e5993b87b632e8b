"""Freeing ``localCheckpoint`` storage: the one private JVM walk the
driver loops need.

Every loop in ``operators/`` that carries a table from round to round
follows one rule: cut the round's generation with ``localCheckpoint``
(lazy when the round's own action materializes it, eager otherwise),
run the round's action, then ``release`` the previous generation.
Inputs a loop cut for itself are released once its result no longer
rests on them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def release(*cuts: DataFrame) -> None:
    """Free the blocks of each ``localCheckpoint`` DataFrame in ``cuts``
    (``DataFrame.unpersist`` cannot: it drops cache-manager entries
    only). Each must be the DataFrame ``localCheckpoint`` returned, and
    nothing still needed may read it. Where the private plan walk is
    unavailable (Spark Connect, another plan shape) this does nothing
    and the blocks stay until the session ends."""
    for cut in cuts:
        try:
            cut._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass
