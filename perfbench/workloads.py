"""The workloads: which ops each runs, on which generated inputs, and
why it was chosen. `run.py` turns an entry into the JVM's run spec."""

# Read-only short rows: an r14 board median of 0.6 s or less, from the
# s/p/a/w/j/f/o/sql/tx/mm families, with no sinks, streams or stages. 109
# rows qualify; a run's budget (a cold check pass, two warm-up passes and
# ten timed passes in about a minute on four cores) fits six of them.
#
# With 7 ops and 10 passes the nearest-rank p50 and p90 (ranks 35 and 63
# of 70) fall inside one op's block of samples, not on the gap between two
# ops of different cost, where they would jump between runs.
ADHOC = [
    "s1_scan_pushdown", "a1_group_minmax", "a7_weighted_mean", "w19_rsi",
    "j7_asof_join", "sql4_asof_sugar",
]

# The curate row: sim13's global rank over the vector-index stage, which
# the set-up builds. It is the one op that reads a shared stage.
STAGE_OPS = ["sim13_hybrid_rrf"]

WORKLOADS = {
    "adhoc": dict(
        kind="batch", ops=ADHOC + STAGE_OPS, stages=["embed"],
        warm_passes=2, min_passes=10,
        why="short read-only queries, over half their time outside Spark jobs, "
            "mostly building the query, plus one stage-reading row: a planning or "
            "job-count change shows here"),
    "stream_ingest": dict(
        kind="stream", sinks=["merge", "snapshot"], chunk_rows=100, chunks=180,
        preload_chunks=100, warm_chunks=12, stages=[], min_chunks=24,
        why="micro-batch ingest into merge and snapshot sinks that already hold "
            "a history, with reads between commits: per-batch cost should stay "
            "O(batch)"),
}
