"""When a materialized table is small enough to run an operator's whole
loop in one task.

The fixed-count loops (PageRank rounds, BPE merges) are written as
one Spark job chain per round, because that is the only shape that
runs on graphs and vocabularies too large for one task. When the
table the loop reads is small, the loop's time is the per-round job
and scheduling floor, not compute: 46 jobs and 7 s to rank a graph of
a few hundred edges (the mmr reranker's r11 lesson, and the COST
argument, McSherry et al. 2015). Such tables run the same loop inside
one Arrow task instead; the operators keep the distributed loop for
everything else and for parity tests.

The bound is measured, not derived. On a 4-core box (local[4], 8
shuffle partitions, warm session), ``pagerank(iters=5)`` and
``train_bpe(n_merges=8)`` timed on each path (PageRank over string
node ids; bigint ids, tried at 200k and 1M edges, fall in the same
ranges):

================  ==========  ============  ==============
operator          table rows  one task (s)  distributed (s)
================  ==========  ============  ==============
pagerank          200k edges  2.2-3.6       4.2-7.7
pagerank          250k edges  4.3-4.9       5.9-9.2
pagerank          500k edges  6.6-7.1       6.6-8.8
pagerank          1M edges    13-16         9-12
train_bpe         194k types  14.1-14.8     27.8-28.1
train_bpe         469k types  22.6-24.7     36.8-40.3
train_bpe         905k types  45            74
================  ==========  ============  ==============

PageRank's crossover is near 500k edges; BPE's one task still won at
the largest size tried. ``MAX_ROWS`` is half the lower crossover: the
distributed loop spreads its per-round work over every executor core
while the one task does not, so on more cores the crossover moves
down, and the task holds the whole table in one Python worker. The
bound depends on no join or broadcast setting. The row count is exact
up to the bound; the optimizer's size estimate is ``Long.MAX_VALUE``
for every ``createDataFrame`` input and so cannot tell a ten-edge
graph from a large one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

MAX_ROWS = 250_000


def one_task_rows(df: DataFrame) -> int | None:
    """Row count of ``df`` when it is at most ``MAX_ROWS``, else None.
    ``df`` should already be materialized: the count is an action (it
    stops reading after ``MAX_ROWS + 1`` rows)."""
    rows = df.limit(MAX_ROWS + 1).count()
    return rows if rows <= MAX_ROWS else None


def ansi_enabled(df: DataFrame) -> bool:
    """Whether the session evaluates arithmetic with ANSI semantics
    (overflow and division by zero raise instead of wrapping or
    returning NULL) — what a one-task twin of a SQL loop must mirror."""
    return bool(
        df.sparkSession._jsparkSession.sessionState().conf().ansiEnabled()
    )
