"""The benchmark's workloads: inputs, set-up, timed rounds and checks.

Every workload follows the same shape:

* ``prepare``   generates the change feed from the seed with
                ``feed.generate_change_events``, writes it as scn-ordered
                parquet, one file per batch, and computes the expected
                final table with ``feed.sequential_oracle``.
* ``bootstrap`` applies the feed's first slice with the engine and keeps a
                pristine copy of the resulting state. It is the warm-up too:
                the first call pays the Python worker fork and codegen.
* ``run_round`` restores the pristine state and applies the timed batches
                in order, one at a time, with ``READS`` full reads of the
                primary table after each batch. Rounds are identical, so
                the final tables and their size on disk do not depend on how
                many rounds a run makes.
* ``check``     compares the final tables with the oracle.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from openlogreplicator_spark.config import EngineConfig
from openlogreplicator_spark.feed import (
    CHANGE_EVENT_SCHEMA,
    generate_change_events,
    sequential_oracle,
)
from openlogreplicator_spark.lake import LakeTable
from openlogreplicator_spark.plans import replay
from openlogreplicator_spark.plans.rollup_apply import (
    bootstrap_conversations_target,
)
from openlogreplicator_spark.plans.scd2_apply import bootstrap_scd2_target
from openlogreplicator_spark.streaming.pipeline import CDCStreamPipeline

from tracer import MB, dir_bytes

PAYLOAD_CHARS = 200
MAX_DML = 8  # the generator's default, needed to re-time its transactions
TABLE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


# ------------------------------------------------------------------ inputs

def generate_feed(spark, out_dir: str, n_txs: int, n_convs: int,
                  seed: int) -> pa.Table:
    """Generate the change feed with the engine's generator, write it with
    Spark and read it back as one (scn, seq)-sorted Arrow table."""
    generate_change_events(
        spark, n_txs=n_txs, n_convs=n_convs, payload_chars=PAYLOAD_CHARS,
        seed=seed,
    ).write.mode("overwrite").parquet(out_dir)
    table = pq.read_table(out_dir)
    shutil.rmtree(out_dir)
    return table.sort_by([("scn", "ascending"), ("seq", "ascending")])


def interleave_streams(feed: pa.Table, n_txs: int, streams: int) -> pa.Table:
    """Re-time the feed as ``streams`` concurrent generator streams.

    The generator starts transaction ``tx_id`` at step ``tx_id * (MAX_DML +
    2) * 3`` and encodes ``scn = step * n_txs + tx_id``, so at most one or
    two transactions are open at any scn. Transactions ``[k*T, (k+1)*T)``
    form stream ``k``; shifting every stream to start at step 0 keeps each
    stream's own order and the scn's uniqueness (``tx_id`` stays the
    low-order tiebreak) while hundreds of transactions overlap.
    """
    per_stream = n_txs // streams
    tx_id = np.array([int(x[1:]) for x in feed.column("xid").to_pylist()],
                     dtype=np.int64)
    scn = feed.column("scn").to_numpy()
    step = (scn - tx_id) // n_txs
    k = np.minimum(tx_id // per_stream, streams - 1)
    local = step - k * per_stream * (MAX_DML + 2) * 3
    new_scn = local * n_txs + tx_id
    out = feed.set_column(feed.schema.get_field_index("scn"), "scn",
                          pa.array(new_scn, pa.int64()))
    return out.sort_by([("scn", "ascending"), ("seq", "ascending")])


def clean_cuts(feed: pa.Table, tx_counts: list[int]) -> list[int]:
    """Row offsets that split the sorted feed into slices of whole
    transactions: slice i holds about ``tx_counts[i]`` transactions and no
    transaction is open at a cut, so slices apply in commit order."""
    df = pd.DataFrame({"xid": feed.column("xid").to_numpy(zero_copy_only=False),
                       "scn": feed.column("scn").to_numpy()})
    span = df.groupby("xid")["scn"].agg(["min", "max"]).sort_values("min")
    begins = span["min"].to_numpy()
    ends_before = np.maximum.accumulate(
        np.concatenate([[-1], span["max"].to_numpy()[:-1]]))
    clean = np.flatnonzero(ends_before < begins)
    scn = df["scn"].to_numpy()
    cuts, target = [], 0
    for n in tx_counts[:-1]:
        target += n
        i = clean[np.searchsorted(clean, target)]
        cuts.append(int(np.searchsorted(scn, begins[i])))
    return [0, *cuts, feed.num_rows]


def even_cuts(n_rows: int, fractions: list[float]) -> list[int]:
    """Row offsets for consecutive slices of the given shares of the feed,
    starting at row 0."""
    acc = np.cumsum([0.0, *fractions])
    return [int(round(a * n_rows)) for a in acc]


def write_batches(feed: pa.Table, cuts: list[int], out_dir: str) -> list[dict]:
    """One parquet file per batch id: rows [cuts[b], cuts[b+1])."""
    batches = []
    for b in range(len(cuts) - 1):
        d = os.path.join(out_dir, f"b{b:04d}")
        os.makedirs(d)
        part = feed.slice(cuts[b], cuts[b + 1] - cuts[b])
        pq.write_table(part, os.path.join(d, "part-0.parquet"),
                       coerce_timestamps="us", allow_truncated_timestamps=True)
        batches.append({"dir": d, "events": part.num_rows})
    return batches


def oracle_frame(feed: pa.Table) -> pd.DataFrame:
    """``sequential_oracle`` over an Arrow feed (list columns as lists)."""
    pdf = feed.to_pandas()

    def lst(a):
        return None if a is None else list(a)

    pdf["cols_set"] = pdf["cols_set"].map(lst)
    pdf["rows"] = pdf["rows"].map(
        lambda rows: None if rows is None else
        [dict(r, cols_set=lst(r["cols_set"])) for r in rows])
    return sequential_oracle(pdf)


# ------------------------------------------------------------------ checks

def _ts_us(v):
    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return None
    t = pd.Timestamp(v)
    if t.tzinfo is not None:
        t = t.tz_convert("UTC").tz_localize(None)
    return t.value // 1000


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    """Table rows as comparable tuples: NaN/NaT -> None, ts -> epoch us."""
    out = []
    for r in df[TABLE_COLS].itertuples(index=False):
        vals = []
        for c, v in zip(TABLE_COLS, r):
            if c == "ts":
                vals.append(_ts_us(v))
            elif v is None or (isinstance(v, float) and np.isnan(v)):
                vals.append(None)
            elif c == "turn_idx":
                vals.append(int(v))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: (t[0], t[1]))


def compare_table(spark, table: LakeTable, expected: pd.DataFrame,
                  label: str) -> list[str]:
    got = canonical_rows(table.read(spark).select(*TABLE_COLS).toPandas())
    want = canonical_rows(expected)
    if got == want:
        return []
    missing = len(set(want) - set(got))
    extra = len(set(got) - set(want))
    return [f"{label}: {len(got)} rows, oracle {len(want)}; "
            f"{missing} oracle rows missing, {extra} unexpected"]


def read_full(spark, table: LakeTable) -> None:
    """Full-table read into Spark's noop sink: every row is produced, no
    result reaches the driver, and Catalyst cannot prune columns away."""
    table.read(spark).write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------- workloads

class Workload:
    name = ""
    BOOT_BATCHES = 1  # leading batch files the bootstrap applies
    READS = 3  # full reads of the primary after each batch

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self.live = os.path.join(work_dir, "live")
        self.pristine = os.path.join(work_dir, "pristine")
        self.batches: list[dict] = []
        self.expected: pd.DataFrame | None = None

    # set-up ------------------------------------------------------------

    def prepare(self) -> None:
        """Generate the batch files and the oracle's final table."""
        feed, cuts = self.make_feed()
        self.batches = write_batches(feed, cuts,
                                     os.path.join(self.work, "inputs"))
        # rows past the last cut are never applied: the oracle sees only the
        # applied prefix (its still-open transactions commit nothing)
        self.expected = oracle_frame(feed.slice(0, cuts[-1]))

    def batch_df(self, b: int):
        return self.spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(
            self.batches[b]["dir"])

    def bootstrap(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        os.makedirs(self.live)
        self.apply_bootstrap()
        shutil.rmtree(self.pristine, ignore_errors=True)
        shutil.copytree(self.live, self.pristine)

    def restore(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.pristine, self.live)
        self.open_tables()

    # timed round -------------------------------------------------------

    def run_round(self, tracer) -> list[dict]:
        """Apply the batches after the bootstrap's, each followed by READS
        full reads of the primary. Returns one record per batch."""
        records = []
        for b in range(self.BOOT_BATCHES, len(self.batches)):
            t0 = time.perf_counter()
            self.apply(b)
            batch_s = time.perf_counter() - t0
            if tracer.enabled:
                with tracer.bookkeeping():
                    files = self.primary.manifest()["files"]
                    tracer.sample("lake.files_live", len(files))
                    tracer.sample("lake.eqdel_rows_live", sum(
                        int(f["rows"]) for f in files
                        if f.get("content") == "eq-del"))
            reads = []
            for _ in range(self.READS):
                t0 = time.perf_counter()
                with tracer.span("lake.read"):
                    read_full(self.spark, self.primary)
                reads.append(time.perf_counter() - t0)
            records.append({"events": self.batches[b]["events"],
                            "batch_s": batch_s, "read_s": reads})
        return records

    def lake_mb(self) -> float:
        return sum(dir_bytes(t.path) for t in self.lake_tables()) / MB

    def check(self) -> list[str]:
        return compare_table(self.spark, self.primary, self.expected,
                             "primary")

    # per workload ------------------------------------------------------

    def make_feed(self) -> tuple[pa.Table, list[int]]:
        raise NotImplementedError

    def apply_bootstrap(self) -> None:
        raise NotImplementedError

    def open_tables(self) -> None:
        raise NotImplementedError

    def apply(self, b: int) -> None:
        raise NotImplementedError

    def lake_tables(self) -> list[LakeTable]:
        raise NotImplementedError


class MergeIncremental(Workload):
    """Staged MERGE of whole-transaction batches into a populated
    copy-on-write target, through ``replay_batch`` with rising batch ids."""

    name = "merge_incremental"
    BOOT_TXS = 2_500
    BATCH_TXS = 500
    BATCHES = 3
    BOOT_BATCHES = 2
    N_CONVS = 1_000

    cfg = EngineConfig()

    def make_feed(self):
        n_txs = self.BOOT_TXS + self.BATCH_TXS * (self.BATCHES + 1)
        feed = generate_feed(self.spark, os.path.join(self.work, "gen"),
                             n_txs, self.N_CONVS, self.seed)
        counts = [self.BOOT_TXS] + [self.BATCH_TXS] * (self.BATCHES + 1)
        return feed, clean_cuts(feed, counts)

    def apply_bootstrap(self):
        # slice 0 goes through merge_direct into the empty table; slice 1
        # through the staged MERGE, so the timed batches find it warm
        self.primary = replay.bootstrap_target(
            os.path.join(self.live, "primary"), self.cfg)
        for b in range(self.BOOT_BATCHES):
            self.apply(b)

    def open_tables(self):
        self.primary = LakeTable(os.path.join(self.live, "primary"))

    def apply(self, b):
        replay.replay_batch(self.spark, self.batch_df(b), self.primary,
                            self.cfg, batch_id=b)

    def lake_tables(self):
        return [self.primary]


class StreamMicrobatch(Workload):
    """``CDCStreamPipeline.process_batch`` over scn-contiguous files of an
    interleaved feed: a merge-on-read primary with compaction and snapshot
    expiry, SCD2 history, the conversations rollup and the JSON change
    stream. Transactions straddle the files, so the pending store carries
    hundreds of open transactions between batches."""

    name = "stream_microbatch"
    STREAMS = 600
    TXS_PER_STREAM = 5
    N_CONVS = 1_000
    BOOT_SHARE = 0.25
    BATCH_SHARE = 0.12
    # a read of the compacted primary takes about 0.2 s, so one batch needs
    # more of them for a steady median
    READS = 9

    # a compaction and expiry cycle of one batch, so every round is a whole
    # cycle: the set-up and one streaming batch already take most of a
    # run's time budget. One bucket per core, as the tables hold fewer than
    # 10k rows.
    cfg = EngineConfig(merge_mode="mor", compact_every=1, expire_every=1,
                       num_buckets=4)

    def make_feed(self):
        n_txs = self.STREAMS * self.TXS_PER_STREAM
        feed = generate_feed(self.spark, os.path.join(self.work, "gen"),
                             n_txs, self.N_CONVS, self.seed)
        feed = interleave_streams(feed, n_txs, self.STREAMS)
        # the feed runs on past the last timed file, so the last batch also
        # leaves transactions open in the pending store
        return feed, even_cuts(feed.num_rows, [self.BOOT_SHARE]
                               + [self.BATCH_SHARE])

    def _paths(self):
        j = os.path.join
        return (j(self.live, "primary"), j(self.live, "history"),
                j(self.live, "conversations"), j(self.live, "state"),
                j(self.live, "changes"))

    def apply_bootstrap(self):
        prim, hist, conv, _state, _changes = self._paths()
        replay.bootstrap_target(prim, self.cfg)
        bootstrap_scd2_target(hist, self.cfg)
        bootstrap_conversations_target(conv, self.cfg)
        self.open_tables()
        self.apply(0)

    def open_tables(self):
        prim, hist, conv, state, changes = self._paths()
        self.primary = LakeTable(prim)
        self.history = LakeTable(hist)
        self.conversations = LakeTable(conv)
        self.pipeline = CDCStreamPipeline(
            self.primary, self.cfg, state,
            change_stream_dir=changes,
            history_table=self.history,
            conversations_table=self.conversations,
        )

    def apply(self, b):
        self.pipeline.process_batch(self.batch_df(b), b)

    def lake_tables(self):
        return [self.primary, self.history, self.conversations]

    def check(self):
        errors = super().check()
        live = self.expected.groupby("conv_id").size()
        conv = self.conversations.read(self.spark).select(
            "conv_id", "n_turns").toPandas()
        dup = int(conv["conv_id"].duplicated().sum())
        got = dict(zip(conv["conv_id"], conv["n_turns"].astype(int)))
        want = {k: int(v) for k, v in live.items()}
        if dup or got != want:
            wrong = sum(1 for k in set(got) | set(want)
                        if got.get(k) != want.get(k))
            errors.append(
                f"conversations: {len(conv)} rows for {len(want)} live "
                f"conv_ids; {dup} duplicated, {wrong} with a wrong turn count")
        return errors


WORKLOADS = {w.name: w for w in (MergeIncremental, StreamMicrobatch)}
