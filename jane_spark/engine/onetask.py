"""When a materialized table is small enough to run an operator's whole
loop in one task.

The fixed-count loops (PageRank rounds, BPE merges, Lloyd rounds,
which also fit product quantization's m codebooks in one call) are
written as one Spark job chain per round, because that is the
only shape that runs on graphs, vocabularies and corpora too large
for one task. When the table the loop reads is small, the loop's time
is the per-round job and scheduling floor, not compute: 46 jobs and
7 s to rank a graph of a few hundred edges (the mmr reranker's r11
lesson, and the COST argument, McSherry et al. 2015). Such tables run
the same loop inside one Arrow task instead; the operators keep the
distributed loop for everything else and for parity tests.

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

A k-means task holds rows × dim doubles, so rows alone do not bound
it: 250k rows of 768-dim embeddings are 192M cells, gigabytes in one
worker. ``kmeans_fit(k=8, iters=5)`` on random ``array<float>``
vectors, same box and session, timed on each path:

==============  ============  ============  ==============
rows x dim      cells         one task (s)  distributed (s)
==============  ============  ============  ==============
20k x 64        1.3M          1.2-2.3       5.3-8.2
60k x 64        3.8M          2.3-2.6       8.6-8.8
15k x 256       3.8M          2.3-2.5       9.6-10.0
250k x 16       4.0M          2.8-3.2       8.8-10.4
150k x 64       9.6M          6.4-6.7       18.6-19.7
40k x 256       10.2M         6.1-6.4       19.7-21.3
250k x 64       16.0M         11.7          31.7
100k x 256      25.6M         17.3          43.2
==============  ============  ============  ==============

The one task still won at the largest size tried, by a margin that
narrows with size (about 4x at 4M cells, 2.5x at 25.6M), and its
memory grows with it: the Arrow batches, the combined column, the
id-sorted matrix and the distance blocks hold about five copies of
the cells. ``MAX_CELLS`` is 4M cells: there the one task is 3-4x
faster, a margin a distributed loop on three times the cores would
not close, and the task holds about 150 MB. Below 16 dimensions
``MAX_ROWS`` is the tighter bound. For product quantization the cells
are one subvector slice's, the size of one fit: the task fits all m
slices in turn, so it holds m times that many input cells.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

if TYPE_CHECKING:
    import pyarrow as pa

MAX_ROWS = 250_000
MAX_CELLS = 4_000_000


def in_one_task(
    df: DataFrame, fn: "Callable[[pa.Table], pa.Table]", cells: str | None = None
) -> "pa.Table | None":
    """``fn``'s result from one call, in one Python task, on the whole
    of ``df`` as one Arrow table; None, and ``fn`` never runs, when
    ``df`` holds more than ``MAX_ROWS`` rows or, when ``cells`` names
    an array column, more than ``MAX_CELLS`` elements in it (NULL
    arrays count 0). An empty ``df`` fits. The bounds are read here,
    when the action is planned.

    One action: ``limit(MAX_ROWS + 1)``, whose single-partition
    exchange is its map-stage job, feeds the one task, which counts
    as it reads, so the size check runs no job of its own, and sends
    ``fn``'s table back as one Arrow IPC blob. A table over a bound
    therefore still reaches Python before its distributed loop
    starts."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    max_rows, max_cells = MAX_ROWS, MAX_CELLS
    schema = to_arrow_schema(df.schema)

    def run(batches):
        held, rows, total, blob = [], 0, 0, None
        # read every batch, so Spark can reuse the worker; hold none
        # past a bound
        for b in batches:
            rows += b.num_rows
            if cells is not None:
                total += pc.sum(pc.list_value_length(b.column(cells))).as_py() or 0
            if rows <= max_rows and total <= max_cells:
                held.append(b)
        if rows <= max_rows and total <= max_cells:
            out = fn(pa.Table.from_batches(held) if held else schema.empty_table())
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, out.schema) as w:
                w.write_table(out)
            blob = sink.getvalue().to_pybytes()
        yield pa.record_batch([pa.array([blob], pa.binary())], names=["ipc"])

    got = df.limit(max_rows + 1).coalesce(1).mapInArrow(run, "ipc binary").collect()
    if not got:
        # the optimizer proved df empty and planned no task
        return fn(schema.empty_table())
    blob = got[0]["ipc"]
    return None if blob is None else pa.ipc.open_stream(pa.py_buffer(blob)).read_all()


def ansi_enabled(df: DataFrame) -> bool:
    """Whether the session evaluates arithmetic with ANSI semantics
    (overflow and division by zero raise instead of wrapping or
    returning NULL) — what a one-task twin of a SQL loop must mirror."""
    return bool(
        df.sparkSession._jsparkSession.sessionState().conf().ansiEnabled()
    )
