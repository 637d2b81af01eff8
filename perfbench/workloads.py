"""The benchmark's workloads: seeded inputs, one user operation, and an
output check for each.

Every workload is a closed loop with one client: ``op(i)`` runs the
i-th user operation to completion and returns the rows it produced or
landed; the next op starts when it returns. Inputs come from the run's
seed only (numpy's seeded generator, or a seeded ``random.Random``) and
are written once with pyarrow under the run's private directory, so
set-up time is the program's own work (bulk load, index build) and not
the generator's. The program is called through its public functions
exactly as a user would call them.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from currency_etl_pipeline_spark.multimodal.media import attach_media, dhash_assets
from currency_etl_pipeline_spark.operators.delta import window_delta
from currency_etl_pipeline_spark.operators.topk import top_n
from currency_etl_pipeline_spark.sources.dedup_index import build_minhash_index
from currency_etl_pipeline_spark.sources.rates_pipeline import (
    prepare_for_load,
    quotes_payload_to_rates,
    transform_rates,
)
from currency_etl_pipeline_spark.sources.warehouse import Warehouse
from currency_etl_pipeline_spark.streaming.pipeline import stream_minhash_ingest

from spans import Spans

BASES = ["USD", "EUR", "GBP", "JPY", "CHF"]
EPOCH0 = datetime(2026, 1, 1)
KEYS = ["base_currency", "target_currency"]


def tree_files(path: str) -> dict[str, int]:
    """Every regular file under ``path`` with its size in bytes."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def write_parquet(columns: dict, path: str, files: int = 4) -> None:
    """Write ``columns`` as ``files`` parquet files under ``path``, so
    Spark reads them with that many tasks."""
    os.makedirs(path)
    table = pa.table(columns)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


class Workload:
    """One workload. Subclasses set ``name`` and ``warmup_ops`` and
    implement ``build`` (set-up; repeatable into a fresh directory),
    ``op`` and ``check``."""

    name = ""
    warmup_ops = 0
    # Counted metrics (store bytes, files, jobs) use the first exact_ops
    # timed ops only, which every run has, so they repeat exactly.
    exact_ops = 3

    def __init__(self, spark: SparkSession, spans: Spans, seed: int, scale: float):
        self.spark = spark
        self.spans = spans
        self.seed = seed
        self.scale = scale

    def n(self, full: int, floor: int = 1) -> int:
        return max(floor, int(full * self.scale))

    def build(self, workdir: str) -> None:
        raise NotImplementedError

    def op(self, i: int) -> int:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def store_bytes_per_row(self) -> float:
        raise NotImplementedError

    def op_ms(self, i: int) -> float | None:
        """Latency of op i when the program reports it (else None: the
        runner's wall clock around ``op`` is used)."""
        return None

    def pending_ops(self) -> int:
        """Ops the program has already run but ``op`` has not yet
        returned; the timed phase collects them before it ends."""
        return 0

    def batch_ops(self) -> dict[int, int]:
        """Streaming batchId -> op index, for event-log attribution."""
        return {}

    def layer_metrics(self, timed_ops: int) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------
# Currency warehouse (dashboard, ingest)


def load_rates(spark: SparkSession, seed: int, n_targets: int, steps: int, step_min: int, workdir: str):
    """5 bases x ``n_targets`` targets, one seeded quote per pair every
    ``step_min`` minutes for ``steps`` steps from EPOCH0: written once as
    plain parquet (the input the checks recompute from), then
    bulk-loaded through the warehouse."""
    rng = np.random.default_rng(seed)
    pair = np.repeat(np.arange(len(BASES) * n_targets), steps)
    ts = np.datetime64(EPOCH0, "us") + (np.tile(np.arange(steps), len(BASES) * n_targets) * step_min).astype("timedelta64[m]")
    src = os.path.join(workdir, "input_rates")
    write_parquet(
        {
            "base_currency": np.array(BASES)[pair // n_targets],
            "target_currency": np.char.add("T", np.char.zfill((pair % n_targets).astype(str), 3)),
            "rate": np.round(rng.uniform(0.01, 200.0, pair.size), 6),
            "timestamp": ts,
            "retrieved_at": ts + np.timedelta64(30, "s"),
        },
        src,
    )
    wh = Warehouse(spark, os.path.join(workdir, "warehouse"))
    wh.load_batch(spark.read.parquet(src))
    return wh, src


def _duck_rows(sql: str, *params):
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        return con.execute(sql, list(params)).fetchall()
    finally:
        con.close()


def _same_rows(got, want, tol: float = 1e-9) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or abs(a - b) > tol * max(1.0, abs(b)):
                    return False
            elif a != b:
                return False
    return True


class Dashboard(Workload):
    """Read-only page renders of the reference dashboard and DAG reads
    over a static warehouse: newest 5,000 history rows, the newest row
    of one pair, the 24 h window delta at an anchor, and current()."""

    name = "dashboard"
    # JIT warm-up of the read path is slow: after 16 warm-up pages the
    # next eight still read about 20 % above the pages after page 40.
    warmup_ops = 24
    PARTS = ("history", "point", "delta", "current")

    def build(self, workdir: str) -> None:
        # 30 days at 2-hourly steps: 306k rows. The run budget (each run
        # pays three bulk loads and the warm-up) leaves no room for more.
        self.n_targets, self.steps, self.step_min = 170, self.n(12 * 30), 120
        self.wh, self.src = load_rates(self.spark, self.seed, self.n_targets, self.steps, self.step_min, workdir)
        self.spans.wrap(self.wh, "historical", "warehouse.read")
        self.spans.wrap(self.wh, "current", "warehouse.read")
        rng = random.Random(self.seed)
        span_h = self.steps * self.step_min // 60
        self.params = [
            (
                rng.choice(BASES),
                f"T{rng.randrange(self.n_targets):03d}",
                (EPOCH0 + timedelta(hours=rng.randrange(24, max(25, span_h)))).strftime("%Y-%m-%d %H:%M:%S"),
            )
            for _ in range(4096)
        ]
        self.answers: dict[int, dict] = {}
        self.catalyst: dict[str, list[float]] = {"analysis": [], "optimization": [], "planning": []}

    def _part(self, i: int, part: str):
        base, target, anchor = self.params[i % len(self.params)]
        if part == "current":
            df = self.wh.current()
        else:
            df = self.wh.historical()
        if part == "history":
            df = top_n(df, ["timestamp", "base_currency", "target_currency"], 5000)
        elif part == "point":
            hit = df.filter((F.col("base_currency") == base) & (F.col("target_currency") == target))
            df = top_n(hit, ["timestamp"], 1)
        elif part == "delta":
            df = window_delta(df, KEYS, "timestamp", "rate", anchor)
        rows = df.collect()
        if self.spans.trace and self.spans.op.startswith("op"):
            phases = df._jdf.queryExecution().tracker().phases()
            for ph in self.catalyst:
                if phases.contains(ph):
                    self.catalyst[ph].append(float(phases.apply(ph).durationMs()))
        return rows

    def op(self, i: int) -> int:
        got = {}
        # Rotate the part order so no part always runs first or last.
        for k in range(len(self.PARTS)):
            part = self.PARTS[(i + k) % len(self.PARTS)]
            got[part] = self.spans.call(f"page.{part}", self._part, i, part)
        if len(self.answers) < 3 and i >= 0:
            self.answers[i] = got
        return sum(len(r) for r in got.values())

    def check(self) -> list[str]:
        bad = []
        src = f"read_parquet('{self.src}/*.parquet')"
        for i, got in self.answers.items():
            base, target, anchor = self.params[i % len(self.params)]
            want = _duck_rows(
                f"SELECT base_currency, target_currency, rate, timestamp, retrieved_at FROM {src} "
                "ORDER BY timestamp DESC, base_currency DESC, target_currency DESC LIMIT 5000"
            )
            if not _same_rows([tuple(r) for r in got["history"]], want):
                bad.append(f"dashboard op {i}: history rows differ")
            want = _duck_rows(
                f"SELECT base_currency, target_currency, rate, timestamp, retrieved_at FROM {src} "
                "WHERE base_currency = ? AND target_currency = ? ORDER BY timestamp DESC LIMIT 1",
                base, target,
            )
            if not _same_rows([tuple(r) for r in got["point"]], want):
                bad.append(f"dashboard op {i}: point row differs")
            want = _duck_rows(
                f"""SELECT base_currency, target_currency,
                       round(arg_max(rate, timestamp), 6), round(arg_min(rate, timestamp), 6),
                       round(arg_max(rate, timestamp) - arg_min(rate, timestamp), 6), count(*)
                FROM {src}
                WHERE timestamp BETWEEN CAST(? AS TIMESTAMP) - INTERVAL 24 HOURS AND CAST(? AS TIMESTAMP)
                GROUP BY 1, 2 ORDER BY 1, 2""",
                anchor, anchor,
            )
            have = sorted(
                (r["base_currency"], r["target_currency"], r["latest_value"], r["earliest_value"], r["diff"], r["n_obs"])
                for r in got["delta"]
            )
            if not _same_rows(have, want):
                bad.append(f"dashboard op {i}: 24h delta differs")
            want = _duck_rows(
                f"SELECT base_currency, target_currency, rate, timestamp, retrieved_at FROM {src} "
                "QUALIFY row_number() OVER (PARTITION BY base_currency, target_currency "
                "ORDER BY timestamp DESC) = 1 ORDER BY 1, 2"
            )
            if not _same_rows(sorted(tuple(r) for r in got["current"]), want):
                bad.append(f"dashboard op {i}: current() differs")
        if not self.answers:
            bad.append("dashboard: no page answers recorded")
        return bad

    def store_bytes_per_row(self) -> float:
        rows = len(BASES) * self.n_targets * (self.steps + 1)  # history + current snapshot
        return sum(tree_files(self.wh.base).values()) / rows

    def layer_metrics(self, timed_ops: int) -> dict[str, float]:
        return {f"catalyst.{ph}_ms_per_op": sum(v) / max(1, timed_ops) for ph, v in self.catalyst.items()}


class Ingest(Workload):
    """One /live poll per op: seeded quote payloads for the 5 bases
    through quotes_payload_to_rates -> transform_rates ->
    prepare_for_load -> Warehouse.load_batch, against a warehouse
    pre-loaded with 30 days of 4-hourly history."""

    name = "ingest"
    # After two warm-up polls the timed polls still fell 10-20 % from
    # first to last.
    warmup_ops = 3
    MALFORMED_EVERY = 25  # one quote in 25 is unparseable and must be dropped

    def build(self, workdir: str) -> None:
        # The op's cost does not depend on history size (appends write a
        # new file; the upsert reads only current()), so 4-hourly will do.
        self.n_targets, self.steps, self.step_min = 170, self.n(6 * 30), 240
        self.wh, self.src = load_rates(self.spark, self.seed, self.n_targets, self.steps, self.step_min, workdir)
        self.spans.wrap(self.wh, "append_historical", "warehouse.append")
        self.spans.wrap(self.wh, "upsert_current", "warehouse.upsert")
        self.t0 = EPOCH0 + timedelta(minutes=self.steps * self.step_min)
        self.rng = random.Random(self.seed)
        self.polls: dict[int, list[tuple]] = {}  # poll -> valid (base, target, rate, ts) rows
        self.files = tree_files(self.wh.base)
        self.written: list[tuple[int, int, int]] = []  # (files, bytes, rows) per timed op

    def _payloads(self, k: int):
        ts = self.t0 + timedelta(minutes=10 * k)
        fetched = ts.strftime("%Y-%m-%d %H:%M:%S")
        payloads, valid = [], []
        for b in BASES:
            quotes = {}
            for t in range(self.n_targets):
                tgt = f"T{t:03d}"
                rate = round(self.rng.uniform(0.01, 200.0), 6)
                if self.rng.randrange(self.MALFORMED_EVERY) == 0:
                    quotes[b + tgt] = "n/a"
                else:
                    quotes[b + tgt] = repr(rate)
                    valid.append((b, tgt, rate, ts))
            payloads.append({"success": True, "source": b, "quotes": quotes})
        return payloads, fetched, valid

    def _build_batch(self, payloads, fetched):
        raw = None
        for p in payloads:
            df = quotes_payload_to_rates(self.spark, p, fetched)
            raw = df if raw is None else raw.unionByName(df)
        return prepare_for_load(transform_rates(raw, fetched), fetched)

    def op(self, i: int) -> int:
        k = len(self.polls)
        payloads, fetched, valid = self._payloads(k)
        batch = self.spans.call("rates_pipeline.build", self._build_batch, payloads, fetched)
        self.wh.load_batch(batch)
        self.polls[k] = valid
        if 0 <= i < self.exact_ops:
            now = tree_files(self.wh.base)
            new = [p for p in now if p not in self.files]
            self.written.append((len(new), sum(now[p] for p in new), len(valid)))
            self.files = now
        return len(valid)

    def check(self) -> list[str]:
        bad = []
        want = sorted(r for rows in self.polls.values() for r in rows)
        landed = (
            self.wh.historical()
            .filter(F.col("timestamp") >= F.lit(self.t0))
            .select("base_currency", "target_currency", "rate", "timestamp")
            .collect()
        )
        if sorted(tuple(r) for r in landed) != want:
            bad.append(f"ingest: landed history ({len(landed)} rows) != valid polled rows ({len(want)})")
        newest = {
            (b, t): (rate, ts)
            for b, t, rate, ts in _duck_rows(
                f"SELECT base_currency, target_currency, rate, timestamp FROM read_parquet('{self.src}/*.parquet') "
                "QUALIFY row_number() OVER (PARTITION BY base_currency, target_currency ORDER BY timestamp DESC) = 1"
            )
        }
        for k in sorted(self.polls):
            for b, t, rate, ts in self.polls[k]:
                newest[(b, t)] = (rate, ts)
        cur = {(r[0], r[1]): (r[2], r[3]) for r in self.wh.current().select(*KEYS, "rate", "timestamp").collect()}
        if cur != newest:
            bad.append("ingest: current() != newest row per key")
        return bad

    def store_bytes_per_row(self) -> float:
        return sum(b for _, b, _ in self.written) / max(1, sum(r for _, _, r in self.written))

    def layer_metrics(self, timed_ops: int) -> dict[str, float]:
        return {"warehouse.files_per_op": sum(f for f, _, _ in self.written) / max(1, len(self.written))}


# --------------------------------------------------------------------------
# LLM-data admission (dedup_stream)


def texts(words: np.ndarray) -> list[str]:
    """One document per row of word ids: "w<id> w<id> ..."."""
    return [" ".join(f"w{w}" for w in row) for row in words.tolist()]


class ProgressListener(StreamingQueryListener):
    """Collects (batchId, input rows, durationMs) per micro-batch."""

    def __init__(self):
        self.progress: list[tuple[int, int, dict]] = []

    def onQueryStarted(self, event):  # noqa: N802 (listener API)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        self.progress.append((int(p.batchId), int(p.numInputRows), dict(p.durationMs)))

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class DedupStream(Workload):
    """Streaming near-dup admission: a seeded corpus indexed with
    build_minhash_index, then stream_minhash_ingest over a feed of
    fixed-size micro-batch files (maxFilesPerTrigger=1). One op is one
    epoch; one doc in five is a planted near-duplicate of a corpus doc
    (one word of 60 replaced)."""

    name = "dedup_stream"
    N_WORDS, VOCAB, DUP_EVERY = 60, 50_000, 5
    FEED0 = 1_000_000  # feed doc ids start here; corpus ids are 0..n_corpus-1
    # Files moved in per query start (availableNow drains them). Each
    # start re-plans the query, and its first epoch reads slow, so a
    # start drains several epochs; the warm-up is one whole start.
    EPOCHS_PER_START = 4
    warmup_ops = EPOCHS_PER_START
    exact_ops = EPOCHS_PER_START  # the first timed start

    def build(self, workdir: str) -> None:
        self.n_corpus, self.per_epoch = self.n(10_000, 50), self.n(2_000, 20)
        self.corpus = np.random.default_rng(self.seed).integers(0, self.VOCAB, (self.n_corpus, self.N_WORDS))
        corpus_path = os.path.join(workdir, "corpus")
        write_parquet({"doc_id": np.arange(self.n_corpus), "text": texts(self.corpus)}, corpus_path)
        self.index = os.path.join(workdir, "index")
        self.spans.call(
            "dedup_index.build", build_minhash_index, self.spark, self.spark.read.parquet(corpus_path), self.index, 8, 2
        )
        self.sources: dict[int, int] = {}  # planted feed doc -> its corpus source
        self.feed = os.path.join(workdir, "feed")
        os.makedirs(self.feed)
        self.acc = os.path.join(workdir, "accepted")
        self.ckpt = os.path.join(workdir, "checkpoint")
        self.stream = (
            self.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.feed + "/*")
        )
        self.next_file = 0
        if getattr(self, "listener", None) is None:
            self.listener = ProgressListener()
            self.spark.streams.addListener(self.listener)
        self.listener.progress.clear()
        self.pending: list[tuple[int, int, dict]] = []
        self.epochs: dict[int, tuple[int, int, dict]] = {}  # op -> (batchId, docs, durationMs)
        self.written: list[tuple[int, int, int]] = []  # (index files, all bytes, admitted) per measured drive

    def _feed_file(self, f: int) -> None:
        """Write feed file ``f``: fresh docs, and every DUP_EVERY-th a
        corpus doc with one word replaced. Each file has its own seeded
        generator, so files are written only as the run reaches them and
        a faster program never runs out of feed."""
        # SeedSequence ignores trailing zeros: [seed, 0] would replay the
        # corpus's own stream, so the key ends in a nonzero word.
        rng = np.random.default_rng([self.seed, f, 1])
        lo = f * self.per_epoch
        feed_text = texts(rng.integers(0, self.VOCAB, (self.per_epoch, self.N_WORDS)))
        for j in range(self.DUP_EVERY - 1, self.per_epoch, self.DUP_EVERY):
            src = int(rng.integers(self.n_corpus))
            row = [f"w{w}" for w in self.corpus[src].tolist()]
            row[int(rng.integers(self.N_WORDS))] = f"x{lo + j}"
            feed_text[j] = " ".join(row)
            self.sources[self.FEED0 + lo + j] = src
        ids = np.arange(lo, lo + self.per_epoch) + self.FEED0
        write_parquet({"doc_id": ids, "text": feed_text}, os.path.join(self.feed, f"d{f}"), files=1)

    def _drive(self) -> None:
        for _ in range(self.EPOCHS_PER_START):
            self._feed_file(self.next_file)
            self.next_file += 1
        q = stream_minhash_ingest(self.spark, self.stream, self.index, self.acc, 0.5, checkpoint_dir=self.ckpt)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"dedup_stream query failed: {q.exception()}")
        # Progress events arrive asynchronously; wait for this drive's.
        deadline = time.time() + 30
        while len(self.listener.progress) < self.next_file and time.time() < deadline:
            time.sleep(0.005)
        if len(self.listener.progress) < self.next_file:
            raise RuntimeError("dedup_stream: missing streaming progress events")
        self.pending = self.listener.progress[self.next_file - self.EPOCHS_PER_START : self.next_file]

    def op(self, i: int) -> int:
        """One epoch. A query start drains EPOCHS_PER_START files, so
        one op in EPOCHS_PER_START starts the query and the others read
        its later epochs."""
        if not self.pending:
            measure = 0 <= i < self.exact_ops
            before = {**tree_files(self.index), **tree_files(self.acc)} if measure else None
            self.spans.call("stream.drive", self._drive)
            if measure:
                now = {**tree_files(self.index), **tree_files(self.acc)}
                new = [p for p in now if p not in before]
                admitted = sum(
                    pq.ParquetFile(p).metadata.num_rows
                    for p in new
                    if p.startswith(self.acc) and p.endswith(".parquet")
                )
                index_files = sum(p.startswith(self.index) for p in new)
                self.written.append((index_files, sum(now[p] for p in new), admitted))
        self.epochs[i] = self.pending.pop(0)
        return self.epochs[i][1]

    def op_ms(self, i: int) -> float:
        return float(self.epochs[i][2]["triggerExecution"])

    def pending_ops(self) -> int:
        return len(self.pending)

    def batch_ops(self) -> dict[int, int]:
        return {b: i for i, (b, _, _) in self.epochs.items() if i >= 0}

    def check(self) -> list[str]:
        bad = []
        schema = "doc_id long, text string"
        streamed = {r[0] for r in self.spark.read.schema(schema).parquet(self.feed + "/*").select("doc_id").collect()}
        acc = [r[0] for r in self.spark.read.schema(schema).parquet(self.acc).select("doc_id").collect()]
        acc_ids = set(acc)
        if len(acc) != len(acc_ids):
            bad.append("dedup_stream: an admitted doc landed twice")
        if not acc_ids <= streamed:
            bad.append("dedup_stream: admitted a doc that was never streamed")
        if sum(n for _, n, _ in self.listener.progress) != len(streamed):
            bad.append("dedup_stream: docs decided by the epochs != docs streamed")
        rejected = streamed - acc_ids
        planted = streamed & set(self.sources)
        if rejected - planted:
            bad.append(f"dedup_stream: {len(rejected - planted)} non-planted docs rejected")
        sig_rows = self.spark.read.parquet(os.path.join(self.index, "sigs")).collect()
        sigs = {r["doc_id"]: np.array(r["sig"]) for r in sig_rows}
        if len(sig_rows) != len(sigs) or set(sigs) != set(range(self.n_corpus)) | acc_ids:
            bad.append("dedup_stream: index rows != corpus + admitted")
        # A planted duplicate may pass only if its own signature misses its
        # source's: no LSH band (2 hashes) equal, or estimated Jaccard < 0.5.
        for d in sorted(planted & acc_ids):
            eq = sigs[d] == sigs[self.sources[d]]
            if eq.mean() >= 0.5 and any(eq[k] and eq[k + 1] for k in range(0, eq.size - 1, 2)):
                bad.append(f"dedup_stream: planted duplicate {d} admitted although its signature matches")
                break
        return bad

    def store_bytes_per_row(self) -> float:
        return sum(b for _, b, _ in self.written) / max(1, sum(a for _, _, a in self.written))

    def layer_metrics(self, timed_ops: int) -> dict[str, float]:
        timed = [e for i, e in self.epochs.items() if i >= 0]
        first = [self.epochs[i] for i in range(self.exact_ops) if i in self.epochs]

        def p50(key):
            return statistics.median(float(d.get(key, 0)) for _, _, d in timed)

        return {
            "stream.add_batch_ms_p50": p50("addBatch"),
            "stream.wal_commit_ms_p50": p50("walCommit"),
            "stream.commit_offsets_ms_p50": p50("commitOffsets"),
            "stream.latest_offset_ms_p50": p50("latestOffset"),
            "stream.query_planning_ms_p50": p50("queryPlanning"),
            "dedup_index.files_per_epoch": sum(f for f, _, _ in self.written) / max(1, len(first)),
            "dedup.admit_ratio": sum(a for _, _, a in self.written) / max(1, sum(n for _, n, _ in first)),
        }


# --------------------------------------------------------------------------
# Python-worker boundary (media)


def dhash_reference(media: bytes, w: int, h: int, c: int) -> int:
    """Textbook dHash of a FAKE1 raster: bytes tiled to (h, w, c),
    channel mean, 8x9 grid, 64 horizontal-gradient bits MSB-first."""
    raw = np.frombuffer(media, dtype=np.uint8)
    img = np.resize(raw, (h, w, c)).astype(np.float64).mean(axis=2)
    g = img[[(r * h) // 8 for r in range(8)]][:, [(x * w) // 9 for x in range(9)]]
    v = 0
    for bit in (g[:, 1:] > g[:, :-1]).flatten():
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= 1 << 63 else v


class Media(Workload):
    """One dhash_assets pass over attach_media FAKE1 assets kept cached
    in set-up: the only workload crossing the Arrow/Python boundary."""

    name = "media"
    warmup_ops = 5
    SAMPLE = 200

    def build(self, workdir: str) -> None:
        self.n_assets = self.n(100_000, 100)
        words = np.random.default_rng(self.seed).integers(0, 100_000, (self.n_assets, 12))
        docs_path = os.path.join(workdir, "docs")
        write_parquet({"doc_id": np.arange(self.n_assets), "text": texts(words)}, docs_path)
        self.path = os.path.join(workdir, "assets")
        attach_media(self.spark.read.parquet(docs_path)).write.parquet(self.path)
        if getattr(self, "assets", None) is not None:
            self.assets.unpersist()
        self.assets = self.spark.read.parquet(self.path).cache()
        self.assets.count()
        self.digests: list[tuple[int, int]] = []

    def op(self, i: int) -> int:
        h = dhash_assets(self.assets)
        row = self.spans.call("media.dhash", h.agg(F.count(F.lit(1)), F.bit_xor("phash")).first)
        self.digests.append((int(row[0]), int(row[1])))
        return int(row[0])

    def check(self) -> list[str]:
        bad = []
        if any(d != self.digests[0] for d in self.digests) or self.digests[0][0] != self.n_assets:
            bad.append(f"media: dHash passes disagree or miss assets: {sorted(set(self.digests))}")
        rng = random.Random(self.seed)
        ids = sorted(rng.sample(range(self.n_assets), min(self.SAMPLE, self.n_assets)))
        sample = self.assets.filter(F.col("asset_id").isin(ids))
        got = {r["asset_id"]: r["phash"] for r in dhash_assets(sample).collect()}
        for r in sample.collect():
            m = r["meta"]
            want = dhash_reference(bytes(r["media"]), m["width"], m["height"], m["channels"])
            if got.get(r["asset_id"]) != want:
                bad.append(f"media: asset {r['asset_id']} dHash {got.get(r['asset_id'])} != numpy {want}")
                break
        return bad

    def store_bytes_per_row(self) -> float:
        return sum(tree_files(self.path).values()) / self.n_assets


WORKLOADS = {w.name: w for w in (Dashboard, Ingest, DedupStream, Media)}
