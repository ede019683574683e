"""Lineage truncation for iterative DataFrame loops, with a stats reset.

``DataFrame.localCheckpoint`` truncates RDD lineage and logical-plan depth,
but it also copies the child plan's *estimated statistics* onto the new
``LogicalRDD`` (``LogicalRDD.rewriteStatsAndConstraints``). Spark's
size-only estimator computes ``sizeInBytes`` for unknown operators (e.g.
``FlatMapCoGroupsInPandas``) as the PRODUCT of its children's sizes. In an
iterative loop whose per-iteration plan references the previous state k>=2
times, the inherited ``sizeInBytes`` BigInt therefore *squares* every
iteration — its bit-length doubles, and after ~20 iterations each checkpoint
spends seconds (then minutes) in ``BigInteger.multiply`` computing a
meaningless million-digit statistic. Observed: ~2.5x wall-time growth per
iteration from iteration ~18, identical under AQE on/off, eager on/off, and
reliable ``checkpoint()`` — the jstack signature is
``BigInteger.multiplyToomCook3`` under ``SizeInBytesOnlyStatsPlanVisitor``.

The size-only visitor clamps only EMPTY-grouping aggregates to one row;
a grouped aggregate (e.g. the CC round's groupBy(dst_id)) does not clamp.
The DataFrame loops stay safe empirically, not by clamping: their measured
inherited sizeInBytes bit-length grows LINEARLY (~9 bits per round on
pyspark 4.1.2) — the round plan multiplies the state estimate by bounded
per-round factors instead of by a second copy of itself — so the BigInt
work stays negligible at any practical round count. A loop whose round
plan joins the previous state with ITSELF (or with a value derived from it)
multiplies the estimate by a second copy of itself, so the bit-length
DOUBLES per round and the loop must reset stats: MS-BFS (fresh = arrived x
seen, then seen' = seen x fresh), HyperBall (regs x nbr(regs)) and SCC's
trim (deg read three times per level). The CC, k-core and walk loops call
it as well.

``cut_lineage`` does localCheckpoint, then rebuilds the DataFrame directly
from the checkpointed InternalRow RDD — dropping originStats/constraints so
the next iteration starts from default leaf statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut_lineage(df: DataFrame, eager: bool = False) -> DataFrame:
    """localCheckpoint + strip inherited plan statistics (see module doc).

    Falls back to plain ``localCheckpoint`` when JVM internals are not
    reachable (e.g. Spark Connect), where the stats pathology may need the
    aggregate-barrier workaround instead.
    """
    ck = df.localCheckpoint(eager=eager)
    try:
        jdf = ck._jdf  # classic API only
        spark = df.sparkSession
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return type(ck)(new_jdf, ck.sparkSession)
    except Exception:  # pragma: no cover - connect-mode fallback
        return ck
