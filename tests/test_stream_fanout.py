"""The fan-out of one streaming microbatch (streaming/pipeline.py ordering
contract): after the pending write, the primary branch (MERGE -> rollup),
the history branch (SCD2 -> open store) and the change stream run side by
side. A failed branch must not stop the others, nothing after the fan-in may
run for the failed batch, and a retry must converge to an uninterrupted run.
The branch threads must keep the caller's Spark job group and job tags.
"""

import os

import pandas as pd
import pytest

from openlogreplicator_spark.config import EngineConfig
from openlogreplicator_spark.feed import (
    generate_change_events,
    pandas_to_events_df,
)
from openlogreplicator_spark.plans.replay import bootstrap_target
from openlogreplicator_spark.plans.rollup_apply import (
    bootstrap_conversations_target,
)
from openlogreplicator_spark.plans.scd2_apply import bootstrap_scd2_target
from openlogreplicator_spark.streaming.pipeline import CDCStreamPipeline

# merge-on-read with compaction and expiry after every batch, so a batch
# that got past the fan-in leaves a trace of both
CFG = EngineConfig(num_buckets=4, merge_mode="mor", compact_every=1,
                   expire_every=1)
LINEAGE_READ_COLS = ["batch_id", "partition_id", "scn_min", "scn_max",
                     "events", "ts_max_us"]


def _batches(spark, seed):
    """Two scn-contiguous halves of one feed; transactions straddle the cut,
    so the pending store carries open transactions into batch 1."""
    pdf = (generate_change_events(spark, n_txs=120, n_convs=16, seed=seed)
           .toPandas().sort_values(["scn", "seq"]).reset_index(drop=True))
    half = len(pdf) // 2
    return [pandas_to_events_df(spark, pdf.iloc[:half]),
            pandas_to_events_df(spark, pdf.iloc[half:])]


def _pipeline(root):
    prim = bootstrap_target(os.path.join(root, "primary"), CFG)
    hist = bootstrap_scd2_target(os.path.join(root, "history"), CFG)
    conv = bootstrap_conversations_target(os.path.join(root, "conv"), CFG)
    return CDCStreamPipeline(
        prim, CFG, os.path.join(root, "state"),
        change_stream_dir=os.path.join(root, "changes"),
        history_table=hist, conversations_table=conv,
    )


def _rows(table, spark):
    pdf = table.read(spark).toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _stream_bytes(root, batch_id):
    d = os.path.join(root, "changes", f"batch_{batch_id}")
    # part-<index>-<write uuid>...: order by the index, not the uuid
    parts = sorted((n for n in os.listdir(d) if n.startswith("part-")),
                   key=lambda n: n.split("-")[1])
    return b"".join(open(os.path.join(d, n), "rb").read() for n in parts)


def test_failed_branch_settles_others_and_retry_converges(spark, tmp_path):
    batches = _batches(spark, seed=131)
    clean_root, crash_root = str(tmp_path / "clean"), str(tmp_path / "crash")
    clean = _pipeline(clean_root)
    for b, df in enumerate(batches):
        clean.process_batch(df, b)

    pipe = _pipeline(crash_root)
    pipe.process_batch(batches[0], 0)
    tables = [pipe.table, *pipe.history_tables.values(),
              *pipe.conversations_tables.values()]
    maintenance = []
    for t in tables:
        for verb in ("compact", "expire_snapshots"):
            orig = getattr(t, verb)
            setattr(t, verb, lambda *a, _o=orig, _v=verb, **k: (
                maintenance.append(_v), _o(*a, **k))[1])
    hist = pipe.history_tables[None]
    hist.merge = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("injected failure in the history merge"))
    with pytest.raises(RuntimeError, match="injected failure"):
        pipe.process_batch(batches[1], 1)
    del hist.merge

    # the other branches ran to the end: primary and view landed, and so
    # did the pending write and the change stream
    assert pipe.table.last_batch_id() // 1024 == 1
    assert pipe.conversations_tables[None].last_batch_id() == 1
    assert hist.last_batch_id() // 1024 == 0
    assert pipe.pending.current_version() == 1
    assert os.path.isdir(os.path.join(crash_root, "changes", "batch_1"))
    # nothing past the fan-in ran for the failed batch
    assert maintenance == []
    lin = pipe.read_lineage(spark).toPandas()
    assert set(lin["batch_id"]) == {0}

    # the retry converges to the uninterrupted run on every output
    pipe.process_batch(batches[1], 1)
    assert set(maintenance) == {"compact", "expire_snapshots"}
    for got, want in (
        (pipe.table, clean.table),
        (hist, clean.history_tables[None]),
        (pipe.conversations_tables[None], clean.conversations_tables[None]),
    ):
        pd.testing.assert_frame_equal(_rows(got, spark), _rows(want, spark))
    for b in (0, 1):
        assert _stream_bytes(crash_root, b) == _stream_bytes(clean_root, b)

    def lineage(p):
        return (p.read_lineage(spark).select(*LINEAGE_READ_COLS).toPandas()
                .sort_values(["batch_id", "partition_id"])
                .reset_index(drop=True))

    pd.testing.assert_frame_equal(lineage(pipe), lineage(clean))


def test_branches_keep_job_group_and_tags(spark, tmp_path):
    """Every job of a batch, the branch threads' too, belongs to the
    caller's job group and carries its job tags — the local properties
    Structured Streaming's foreachBatch and job-group tracing rely on."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    batch = _batches(spark, seed=137)[0]
    pipe = _pipeline(str(tmp_path))

    def job_ids():
        jsc.listenerBus().waitUntilEmpty()
        seq = jsc.statusStore().jobsList(None)  # a Scala Seq of JobData
        return {j.jobId(): j for j in map(seq.apply, range(seq.size()))}

    before = set(job_ids())
    sc.setJobGroup("fanout-group", "fan-out test")
    sc.addJobTag("fanout-job-tag")
    spark.addTag("fanout-session-tag")
    try:
        pipe.process_batch(batch, 0)
    finally:
        spark.removeTag("fanout-session-tag")
        sc.removeJobTag("fanout-job-tag")
        sc._jsc.clearJobGroup()
    jobs = {i: j for i, j in job_ids().items() if i not in before}

    assert jobs
    assert set(jobs) <= set(sc.statusTracker().getJobIdsForGroup(
        "fanout-group"))
    for j in jobs.values():
        tags = j.jobTags().mkString("\n").split("\n")
        assert "fanout-job-tag" in tags
        assert any(t.endswith("fanout-session-tag") for t in tags)
