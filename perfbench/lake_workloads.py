"""The three workloads that drive the lake table: backlog_replay,
stream_tail and cow_read_mix.

Each takes a ``harness.Run``, makes its inputs from the run's seed, runs
untimed warm-up rounds, then timed rounds until the run's time is up, checks
the table it converged to, and returns its rounds. ``metrics.py`` turns the
rounds and spans into numbers.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
from datetime import datetime, timedelta

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from go_bqloader_spark.functions.webtext import extract_text, extract_text_py, make_html
from go_bqloader_spark.lake import LakeTable
from go_bqloader_spark.sources import CHANGE_SCHEMA, gen_changes
from go_bqloader_spark.sources.datagen import expected_final_state
from go_bqloader_spark.streaming import (
    compose_projectors,
    pii_scrub_projector,
    quality_filter_projector,
    run_cdc_stream,
)

from harness import Run, TracedTable, manifest_bytes, span_s, table_data_bytes

PAGE_COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]
KEY = ["url", "warc_ts"]
STATE_COLS = ["url", "warc_ts", "html", "text", "lang", "_seq"]


def table_meta(table) -> dict:
    return {"manifest_bytes": manifest_bytes(table),
            "manifest_groups": len(table.manifest().get("groups", []))}


def same_state(actual, expected) -> bool:
    """Row-for-row equality of two table states, html bytes and text
    strings compared exactly. Both hold one row per key, so equal counts
    and no row of ``expected`` missing from ``actual`` mean equal states."""
    a, e = actual.select(STATE_COLS), expected.select(STATE_COLS)
    return a.count() == e.count() and e.exceptAll(a).isEmpty()


class _ProgressLog(StreamingQueryListener):
    """Collects ``StreamingQueryProgress`` per micro-batch."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            self.progress.append({"batch": p.batchId, "rows": p.numInputRows,
                                  "ms": dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        with self._cv:
            if not self._cv.wait_for(lambda: self.terminated >= n, timeout):
                raise TimeoutError("streaming listener missed a query termination")


# ------------------------------------------------------- backlog_replay
def backlog_replay(run: Run) -> list[dict]:
    """A staged change feed split into a few large batches, merged into a
    fresh MoR table, then one full resolved scan of the uncompacted table,
    then an exactly-once probe: the stream ingester restarts without its
    checkpoint and redelivers every batch, each of which the table's ledger
    must skip."""
    spark, tr = run.spark, run.tracer
    n_events, n_batches = run.size["backlog_events"], 4
    n_buckets = 2 * run.cpus

    def stage(i: int) -> str:
        d = run.path(f"feed{i}")
        with tr.span("sources.stage"):
            # one file per batch: the redelivery stream reads one file per
            # micro-batch, so its batch ids are exactly the replay's
            gen_changes(spark, n_events, n_urls=max(1000, n_events // 5), n_hosts=200,
                        seed=run.seed, partitions=2 * run.cpus
                        ).withColumn("batch", F.pmod(F.col("seq"), n_batches)
                                     ).repartition(F.col("batch")).write.partitionBy(
                "batch").mode("overwrite").parquet(d)
        return d

    feed = run.repeat_setup(stage)
    log = _ProgressLog()
    tables: list[str] = []

    def one_round(i: int) -> dict:
        path = run.path(f"mor{i}")
        tables.append(path)
        table = TracedTable(LakeTable.create(spark, path, PAGE_COLS, key=KEY,
                                             n_buckets=n_buckets), tr, i)
        merges = []
        with tr.span("bench.round", round=i) as whole:
            with tr.span("bench.apply", round=i) as apply:
                for b in range(n_batches):
                    batch = spark.read.schema(CHANGE_SCHEMA).parquet(f"{feed}/batch={b}")
                    table.merge(batch, batch_key=("backlog", b))
                    merges.append(span_s(table.last_span))
            with tr.span("lake.read", round=i, kind="scan") as scan:
                rows = table.read().count()
            version, seen, drained = table.current_version(), len(log.progress), log.terminated
            with tr.span("streaming.run_cdc_stream", round=i, kind="redelivery"):
                run_cdc_stream(spark, f"{feed}/batch=*", table, run.path(f"ckpt{i}"),
                               query_name="backlog", max_files_per_trigger=1,
                               timeout_sec=150)
        log.wait_terminated(drained + 1)
        redelivered = tr.named("lake.merge", round=i)[n_batches:]
        run.op(n_batches + 1 + len(redelivered))
        run.check(len(redelivered) == n_batches and all(s["attrs"]["skipped"] for s in redelivered)
                  and table.current_version() == version,
                  "a redelivered batch was applied again")
        entries_max = max(table.entries_per_bucket().values())
        run.final.update(bytes_per_row=table_data_bytes(table) / rows,
                         entries_per_bucket_max=entries_max, **table_meta(table))
        if len(tables) > 2:  # keep the disk small: only the newest table is checked
            shutil.rmtree(tables.pop(0), ignore_errors=True)
        return {
            "round_s": span_s(whole), "apply_s": span_s(apply), "events": n_events,
            "op_s": merges, "scan_s": span_s(scan),
            "redelivery_s": [span_s(s) for s in redelivered],
            "progress": log.progress[seen:],
        }

    spark.streams.addListener(log)
    try:
        run.warm_up(one_round)
        rounds = run.rounds(one_round)
    finally:
        spark.streams.removeListener(log)
    final = LakeTable(spark, tables[-1])
    run.check(same_state(final.read(), expected_final_state(spark.read.parquet(feed))),
              "backlog table differs from expected_final_state")
    return rounds


# ---------------------------------------------------------- stream_tail
_VOCAB = ("alpha beta gamma delta river stone cloud field ocean maple cedar"
          " harbor lantern meadow orbit prism quartz signal timber velvet").split()


def _stream_pages(feed, seed: int):
    """Replace the generated page bodies so the projectors have work: most
    pages read as varied prose and pass the repetition filter, one in ten is
    repetitive spam the filter drops, one in ten carries an e-mail address
    and a phone number the scrubber redacts."""
    def pick(j: int):
        h = F.pmod(F.xxhash64(F.lit(seed), F.lit(j), F.col("seq")), F.lit(len(_VOCAB) * 10))
        return F.concat(F.element_at(F.array(*[F.lit(w) for w in _VOCAB]),
                                     (h % len(_VOCAB) + 1).cast("int")),
                        (h / len(_VOCAB)).cast("int").cast("string"))

    kind = F.pmod(F.xxhash64(F.lit(seed), F.lit("kind"), F.col("seq")), F.lit(10))
    prose = F.concat_ws(" ", F.lit("revision"), F.col("seq").cast("string"),
                        *[pick(j) for j in range(14)])
    body = (F.when(kind == 0, F.repeat(F.lit("buy cheap pills now "), 8))
            .when(kind == 1, F.concat(prose, F.lit(" mail jo.doe@example.com call 555-123-4567")))
            .otherwise(prose))
    html = make_html(F.substring_index(F.col("url"), "/", -1), body)
    live = F.col("op") != "D"
    return (feed.withColumn("html", F.when(live, html))
            .withColumn("text", F.when(live, extract_text(F.col("html")))))


def stream_tail(run: Run) -> list[dict]:
    """A binlog of small segments drained by ``run_cdc_stream`` with the
    pii and quality projectors, compaction and snapshot expiry. Each round
    lands the next few segments in the binlog directory and drains them
    from the checkpoint, as a tailing ingester does."""
    spark, tr = run.spark, run.tracer
    seg_events, n_segs = run.size["stream_seg_events"], run.size["stream_segs"]
    per_round, compact_every, expire_keep = 4, 4, 4
    projector = compose_projectors(pii_scrub_projector(), quality_filter_projector())

    def feed_df():
        raw = gen_changes(spark, seg_events * n_segs, seed=run.seed, partitions=run.cpus)
        return _stream_pages(raw, run.seed).withColumn(
            "seg", (F.col("seq") / seg_events).cast("int"))

    def stage(i: int) -> tuple[str, dict]:
        d = run.path(f"pool{i}")
        with tr.span("sources.stage"):
            feed_df().repartition(F.col("seg")).write.partitionBy("seg").mode(
                "overwrite").parquet(d)
        counts = {int(seg[4:]): pq.ParquetDataset(os.path.join(d, seg)).read(
            columns=["seq"]).num_rows for seg in os.listdir(d) if seg.startswith("seg=")}
        return d, counts

    pool, seg_counts = run.repeat_setup(stage)
    binlog, ckpt = run.path("binlog"), run.path("ckpt")
    os.makedirs(binlog)
    table = TracedTable(LakeTable.create(spark, run.path("stream_table"), PAGE_COLS, key=KEY,
                                         n_buckets=2 * run.cpus, max_manifest_groups=4), tr, 0)
    log = _ProgressLog()
    spark.streams.addListener(log)
    landed: list[int] = []

    def one_round(i: int, n_segs: int = per_round, every: int = compact_every) -> dict | None:
        segs = [s for s in sorted(seg_counts) if s not in landed][:n_segs]
        if len(segs) < n_segs:
            return None
        for s in segs:
            os.rename(os.path.join(pool, f"seg={s}"), os.path.join(binlog, f"seg={s}"))
        landed.extend(segs)
        table.round = i
        seen, drained = len(log.progress), log.terminated
        with tr.span("streaming.run_cdc_stream", round=i) as drain:
            run_cdc_stream(spark, f"{binlog}/seg=*", table, ckpt, timeout_sec=150,
                           max_files_per_trigger=1, projector=projector,
                           compact_every=every, expire_keep=expire_keep)
        log.wait_terminated(drained + 1)
        batches = [p for p in log.progress[seen:] if p["rows"] > 0]
        run.op(len(batches))
        maint = {s["attrs"]["after_batch"] for s in tr.named("lake.compact", round=i)}
        return {
            "round_s": span_s(drain), "apply_s": span_s(drain),
            "events": sum(seg_counts[s] for s in segs),
            "op_s": [p["ms"]["triggerExecution"] / 1000.0 for p in batches],
            "maint_s": [p["ms"]["triggerExecution"] / 1000.0 for p in batches
                        if p["batch"] in maint],
            "progress": batches,
        }

    try:
        # warm-up: two segments with maintenance after the second (batch 1),
        # so compaction and expiry are warm too; the timed rounds then cover
        # batches 2-5, 6-9, ..., each running exactly one maintenance (at 4, 8, ...)
        one_round(-1, n_segs=2, every=1)
        run.phase("warm-up")
        rounds = run.rounds(one_round)
    finally:
        spark.streams.removeListener(log)
    run.final.update(bytes_per_row=table_data_bytes(table) / table.read().count(),
                     entries_per_bucket_max=max(table.entries_per_bucket().values()),
                     **table_meta(table))
    expected = expected_final_state(projector(
        spark.read.schema(CHANGE_SCHEMA).parquet(f"{binlog}/seg=*")))
    run.check(same_state(table.read(), expected),
              "stream table differs from expected_final_state of the projected feed")
    return rounds


# --------------------------------------------------------- cow_read_mix
def _cow_batches(seed: int, base: dict, hot: list, n_rounds: int, events: int, seq0: int):
    """Hot-key upsert batches as CHANGE_SCHEMA rows, plus the LWW state after
    each batch (computed here, independently of the engine). Updates and
    deletes target keys that are live at that point; inserts add a capture
    of a hot url."""
    rng = random.Random(seed)
    state = dict(base)  # key -> (seq, text)
    seq = seq0
    rows, states = [], []
    for r in range(n_rounds):
        batch = []
        for _ in range(events):
            seq += 1
            live_hot = [k for k in hot if k in state] or hot
            u = rng.random()
            if u < 0.1:  # insert a new capture of a hot url
                url = rng.choice(live_hot)[0]
                key = (url, datetime(2025, 1, 1) + timedelta(minutes=seq))
                op = "I"
            else:
                key = rng.choice(live_hot)
                op = "D" if u > 0.95 else "U"
            if op == "D":
                html = text = None
                state.pop(key, None)
            else:
                body = f"revision {seq} " + " ".join(rng.choice(_VOCAB) for _ in range(12))
                html = (f"<html><head><title>{key[0]}</title></head><body><h1>{key[0]}"
                        f"</h1><p>{body}</p></body></html>").encode()
                text = extract_text_py(html)
                state[key] = (seq, text)
            batch.append((op, seq, datetime(2025, 1, 1) + timedelta(seconds=seq),
                          key[0], key[1], html, text, "en"))
        rows.append(batch)
        states.append(dict(state))
    return rows, states


def cow_read_mix(run: Run) -> list[dict]:
    """A preloaded CoW table; each round merges one small hot-key upsert
    batch, then runs point lookups, an incremental read of the round's
    changes and a full scan."""
    spark, tr = run.spark, run.tracer
    n_base, events = run.size["cow_base_events"], run.size["cow_batch_events"]
    n_points, max_rounds = 4, 40
    n_buckets = 4 * run.cpus

    def setup(i: int):
        feed_dir = run.path(f"cow_feed{i}")
        with tr.span("sources.stage"):
            gen_changes(spark, n_base, n_urls=max(500, n_base // 4), n_hosts=100,
                        seed=run.seed, partitions=run.cpus).write.mode("overwrite").parquet(feed_dir)
        feed = spark.read.schema(CHANGE_SCHEMA).parquet(feed_dir)
        table = LakeTable.create(spark, run.path(f"cow{i}"), PAGE_COLS, key=KEY,
                                 n_buckets=n_buckets, write_mode="cow")
        with tr.span("lake.preload"):
            table.merge(feed, batch_key=("preload", 0))
        base = {(r["url"], r["warc_ts"]): (r["_seq"], r["text"]) for r in
                expected_final_state(feed).select("url", "warc_ts", "_seq", "text").collect()}
        rng = random.Random(run.seed)
        urls = sorted({k[0] for k in base})
        hot_urls = set(rng.sample(urls, 3))
        hot = sorted(k for k in base if k[0] in hot_urls)
        rows, states = _cow_batches(run.seed, base, hot, max_rounds + 1, events, n_base)
        up_dir = run.path(f"cow_upserts{i}")
        flat = [(r,) + row for r, batch in enumerate(rows) for row in batch]
        spark.createDataFrame(flat, "round int, " + CHANGE_SCHEMA).write.partitionBy(
            "round").mode("overwrite").parquet(up_dir)
        return table, base, hot, rows, states, up_dir

    raw, base, hot, rows, states, up_dir = run.repeat_setup(setup)
    rng = random.Random(run.seed + 1)
    cold = rng.sample(sorted(set(base) - set(hot)), 50)
    used = 0

    def one_round(i: int) -> dict | None:
        nonlocal used
        if used >= len(rows):
            return None
        r, used = used, used + 1
        table = TracedTable(raw, tr, i)
        batch = spark.read.schema(CHANGE_SCHEMA).parquet(f"{up_dir}/round={r}")
        prev_max = n_base + r * events  # every seq of earlier batches and the feed is <= this
        with tr.span("bench.mix", round=i) as mix:
            table.merge(batch, batch_key=("upsert", r))
            merge_s = span_s(table.last_span)
            state = states[r]
            points = [hot[(r * 7 + j) % len(hot)] for j in range(n_points // 2)] + \
                     [cold[(r * 3 + j) % len(cold)] for j in range(n_points - n_points // 2)]
            point_s = []
            for key in points:
                with tr.span("lake.read", round=i, kind="point") as s:
                    got = table.read(point={"url": key[0], "warc_ts": key[1]}).select(
                        "_seq", "text").collect()
                point_s.append(span_s(s))
                want = [(state[key][0], state[key][1])] if key in state else []
                run.check([(g["_seq"], g["text"]) for g in got] == want,
                          f"point lookup {key} returned {got}, expected {want}")
            with tr.span("lake.read", round=i, kind="incremental") as inc:
                changed = table.read_changes_since(prev_max).select("url", "warc_ts").collect()
            with tr.span("lake.read", round=i, kind="scan") as scan:
                live = table.read().count()
        run.op(2 + n_points + 1)
        touched = {(row[3], row[4]) for row in rows[r]}
        run.check({(c["url"], c["warc_ts"]) for c in changed} == touched,
                  f"incremental read of round {r} returned the wrong keys")
        run.check(live == len(state), f"full scan counted {live} rows, expected {len(state)}")
        return {
            "round_s": span_s(mix), "apply_s": merge_s, "events": len(rows[r]),
            "op_s": [merge_s],
            "point_s": point_s, "incremental_s": span_s(inc), "scan_s": span_s(scan),
        }

    run.warm_up(one_round)
    rounds = run.rounds(one_round)
    run.final.update(bytes_per_row=table_data_bytes(raw) / raw.read().count(),
                     entries_per_bucket_max=max(raw.entries_per_bucket().values()),
                     **table_meta(raw))
    return rounds
