"""ingest_steady: a loaded table, then small CDC batches with maintenance,
point lookups and full scans beside them.

Per run:

1. input (untimed, outside set-up):
   - the base, shared by every seed and cached in the checkout: a
     ``write_journal`` journal of ``BASE_EVENTS`` events with the
     generator's default key space (about 50 events per key), and the
     table one ``replay_journal`` chunk with the CLI defaults makes of it.
     It is built once, in a process of its own, so every run's session
     starts from the same JVM state; each run works on a copy of the table;
   - the tail: the journal's next offsets, drawn from ``--seed`` over the
     same key space, so batches update, delete and re-insert keys the base
     holds;
2. set-up: session start plus ``WARMUP_BATCHES`` untimed rounds of the
   loop, the first of them with a lookup and a scan;
3. the timed loop, one round per batch: ``apply_batch`` on the next
   ``BATCH_EVENTS`` offsets with the arguments ``replay_journal`` passes
   (so ``auto`` picks a delta write), then ``maybe_compact`` and
   ``maybe_analyze``; after every ``READ_EVERY``-th batch a
   ``lookup_many`` of keys from that batch and a ``read()`` that
   materializes every column through the noop sink;
4. checks (untimed): the table equals ``expected_state_df`` over the
   applied offsets, every lookup returned exactly the rows a DuckDB
   last-writer-wins over the journal up to that batch gives, and replaying
   the base offsets again runs 0 batches (the epoch fence).

Traced runs then replay the first ``CATCHUP_EVENTS`` base offsets as a
catch-up in ``CATCHUP_CHUNKS`` chunks (every chunk after the first a
copy-on-write merge) and time scan, key normalization, LWW reduce and
finalize of each chunk on their own, for the per-layer numbers of the bulk
path.
"""

from __future__ import annotations

import shutil
import statistics
import subprocess
import sys
import time
import traceback

import harness
from harness import CACHE, log, quantile, timed

BATCH_EVENTS = 2048
# 2.6M base events over journal_df's default key space for that size
# (20 repos x BASE_EVENTS // 1000 paths, about 50 events per key) leave
# about 50k live rows, so a batch stays under the 5% delta_fraction and
# auto mode writes every batch as a delta.
BASE_EVENTS = 40 * 65536
BASE_SEED = 0
PATHS_PER_REPO = BASE_EVENTS // 1000
# The first rounds of a session are slower (JIT, first reads); see
# README.md for how the cut-off was chosen.
WARMUP_BATCHES = 1
# replay_journal's maintenance calls with a threshold of 8 instead of its
# default 16, so one compaction and one analyze fall inside the timed
# batches of every run.
MAINTENANCE_THRESHOLD = 8
READ_EVERY = 8
LOOKUP_KEYS = 8
CATCHUP_EVENTS = 3 * 32768
CATCHUP_CHUNKS = 3
KEY_COLS = ["repo", "path"]
VERSION_COLS = ["commit_seq", "offset"]
STATE_COLS = ["repo", "path", "commit_seq", "content_sha256"]


def timed_batches(seconds: int) -> int:
    """Batches in the timed loop: one per two seconds of --seconds, and at
    least one maintenance cycle."""
    return max(MAINTENANCE_THRESHOLD, seconds // 2)


def _replay(spark, jdir: str, table_dir: str, chunk_events: int, n_events: int,
            max_batches: int | None = None) -> dict:
    """``replay_journal`` over the first ``n_events`` offsets, with the CLI
    defaults."""
    from activedata_etl_spark.streaming.replay import replay_journal

    return replay_journal(spark, jdir, table_dir, chunk_events=chunk_events,
                          max_batches=max_batches, n_buckets=None,
                          offset_range=(0, n_events - 1))


def _base_dir():
    code = harness.source_digest("activedata_etl_spark", "perfbench/ingest.py")
    return CACHE / "ingest_base" / f"e{BASE_EVENTS}-s{BASE_SEED}-{code}"


def _expected_state(journal):
    """``expected_state_df`` on the columns the state check compares."""
    from pyspark.sql import functions as F

    from activedata_etl_spark.journal import expected_state_df

    return (expected_state_df(journal)
            .withColumn("content_sha256", F.sha2("content", 256)).select(*STATE_COLS))


def build_base(out: str) -> None:
    """Write the base journal, replay it into the base table, and write
    the journal's expected state, under ``out``; the directory appears
    only when all three are complete."""
    from activedata_etl_spark.journal import read_journal, write_journal

    final = CACHE / out
    tmp = final.with_name(final.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    spark = harness.start_session(traced=False)
    try:
        write_journal(spark, BASE_EVENTS, str(tmp / "journal"), seed=BASE_SEED,
                      n_paths_per_repo=PATHS_PER_REPO)
        _replay(spark, str(tmp / "journal"), str(tmp / "table"), BASE_EVENTS, BASE_EVENTS)
        _expected_state(read_journal(spark, str(tmp / "journal"))).write.parquet(
            str(tmp / "expected"))
    finally:
        harness.stop_session(spark)
    tmp.rename(final)


def prepare(seed: int, seconds: int) -> dict:
    """Build the base if this checkout has none yet, in a process of its
    own, and copy its table to the run's work directory."""
    base = _base_dir()
    if not base.exists():
        log("building the ingest base (once per checkout)")
        subprocess.run([sys.executable, __file__, str(base.relative_to(CACHE))],
                       check=True, stdout=subprocess.DEVNULL, timeout=800)
    work = CACHE / "work"
    table = work / "ingest_table"
    shutil.rmtree(table, ignore_errors=True)
    shutil.copytree(base / "table", table)
    return {"seed": seed, "n_batches": WARMUP_BATCHES + timed_batches(seconds),
            "base_journal": str(base / "journal"), "base_expected": str(base / "expected"),
            "tail": str(work / "ingest_tail"),
            "table": str(table)}


def _write_tail(spark, seed: int, n_events: int, out_dir: str) -> None:
    """The journal's ``n_events`` offsets after the base: ``journal_df``
    with ``seed`` over the base's key space, cut to the offsets past the
    base, in the schema of ``write_journal``'s later segment (with
    ``mode``)."""
    from pyspark.sql import functions as F

    from activedata_etl_spark.journal import journal_df

    df = (journal_df(spark, BASE_EVENTS + n_events, seed=seed,
                     n_paths_per_repo=PATHS_PER_REPO)
          .where(F.col("offset") >= BASE_EVENTS)
          .withColumn("mode", F.when(F.pmod(F.xxhash64("commit_seq", F.lit(seed + 13)), 10) < 1,
                                     F.lit("100755")).otherwise(F.lit("100644"))))
    (df.repartitionByRange(2, "offset").sortWithinPartitions("offset")
     .write.mode("overwrite").parquet(f"{out_dir}/seg=3"))


def _duck_journal(jdirs: list[str]):
    import duckdb

    con = duckdb.connect()
    globs = ", ".join(f"'{d}/seg=*/*.parquet'" for d in jdirs)
    con.sql(f"CREATE VIEW j AS SELECT * FROM read_parquet([{globs}], union_by_name=true)")
    return con


def _batch_keys(tail: str, n_batches: int) -> tuple[list[int], list[list[dict]]]:
    """Rows per batch, and the first LOOKUP_KEYS distinct keys of each
    batch, from the tail's files (no Spark job)."""
    con = _duck_journal([tail])
    batch = f'("offset" - {BASE_EVENTS}) // {BATCH_EVENTS}'
    counts = [0] * n_batches
    for b, n in con.sql(f"SELECT {batch} AS b, count(*) FROM j GROUP BY b").fetchall():
        if b < n_batches:
            counts[b] = n
    keys: list[list[dict]] = [[] for _ in range(n_batches)]
    for b, repo, path in con.sql(f"""
            SELECT b, repo, path FROM (
              SELECT b, repo, path, row_number() OVER (PARTITION BY b ORDER BY first) AS rn
              FROM (SELECT {batch} AS b, repo, path, min("offset") AS first FROM j
                    WHERE repo IS NOT NULL GROUP BY ALL))
            WHERE rn <= {LOOKUP_KEYS} ORDER BY b, rn""").fetchall():
        if b < n_batches:
            keys[b].append({"repo": repo, "path": path})
    return counts, keys


def _expected_lookups(jdirs: list[str], lookups: list[tuple[int, int, list[dict]]]) -> dict:
    """(lookup index, repo, path) -> (commit_seq, content sha256) of the
    last writer among journal events up to the lookup's offset, for keys
    whose last event is not a delete."""
    con = _duck_journal(jdirs)
    con.sql("CREATE TABLE q (i INTEGER, hi BIGINT, repo VARCHAR, path VARCHAR)")
    con.executemany("INSERT INTO q VALUES (?, ?, ?, ?)",
                    [(i, hi, k["repo"], k["path"]) for i, hi, ks in lookups for k in ks])
    rows = con.sql("""
        SELECT i, repo, path, commit_seq, sha256(content) FROM (
          SELECT q.i, j.repo, j.path, j.commit_seq, j.op, j.content,
                 row_number() OVER (PARTITION BY q.i, j.repo, j.path
                                    ORDER BY j.commit_seq DESC, j."offset" DESC) AS rn
          FROM q JOIN j ON j.repo = q.repo AND j.path = q.path AND j."offset" <= q.hi)
        WHERE rn = 1 AND op <> 'delete'""").fetchall()
    return {(i, r, p): (cs, sha) for i, r, p, cs, sha in rows}


def _state_matches(spark, table, base_expected: str, tail: str, hi: int) -> bool:
    """The table equals ``expected_state_df`` over the base and the tail up
    to offset ``hi``.  Every tail event's commit_seq is above every base
    event's, so that state is the base's expected state (written when the
    base was built) with the keys the tail touches replaced by
    ``expected_state_df`` over the tail."""
    from pyspark.sql import functions as F

    from activedata_etl_spark.journal import read_journal

    events = read_journal(spark, tail).where(F.col("offset") <= hi)
    touched = events.select(*KEY_COLS).distinct()
    base = spark.read.parquet(base_expected)
    want = (base.join(touched, [base[c].eqNullSafe(touched[c]) for c in KEY_COLS], "left_anti")
            .unionByName(_expected_state(events)))
    got = table.read().select(*STATE_COLS)
    # one job: rows whose multiplicity differs between the two sides
    diff = (got.withColumn("side", F.lit(1))
            .unionByName(want.withColumn("side", F.lit(-1)))
            .groupBy(*STATE_COLS).agg(F.sum("side").alias("n"))
            .where(F.col("n") != 0))
    return diff.isEmpty()


class Loop:
    """The ingest rounds; records timings, lookup results and failures."""

    def __init__(self, tracer, table, journal, keys):
        self.tracer, self.table, self.journal, self.keys = tracer, table, journal, keys
        self.apply_s: list[float] = []
        self.summaries: list[dict] = []
        self.lookup_s: list[float] = []
        self.scan_s: list[float] = []
        self.compact_s: list[float] = []
        self.compact_versions: list[int] = []
        self.analyze_s: list[float] = []
        self.delta_files_max = 0
        self.lookups: list[tuple[int, int, list[dict]]] = []
        self.lookup_rows: list[list] = []
        self.attempted = 0
        self.failed = 0

    def op(self, name: str, fn, *args, **kwargs):
        """Run and time one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            out, dt = timed(fn, *args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            self.failed += 1
            log(f"{name} raised:\n{traceback.format_exc()}")
            return None
        return out, dt

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {name}")

    def round(self, b: int, record: bool) -> None:
        from pyspark.sql import functions as F

        from activedata_etl_spark.functions.normalize import finalize_records, normalize_keys
        from activedata_etl_spark.lake.merge import apply_batch

        t, tr = self.table, self.tracer
        lk = sc = None
        lo = BASE_EVENTS + b * BATCH_EVENTS
        hi = lo + BATCH_EVENTS - 1
        chunk = self.journal.where(F.col("offset").between(lo, hi))
        with tr.span("merge.apply_batch", batch=b, timed=record):
            r = self.op(f"batch {b}", apply_batch, t, normalize_keys(chunk), b + 1,
                        finalize_fn=finalize_records)
        if r is not None and record:
            self.summaries.append(r[0])
            self.apply_s.append(r[1])
        self.delta_files_max = max(self.delta_files_max,
                                   t.delta_stats()["max_deltas_per_bucket"])
        with tr.span("table.maybe_compact", batch=b):
            c = self.op(f"maybe_compact {b}", t.maybe_compact,
                        max_deltas_per_bucket=MAINTENANCE_THRESHOLD)
        if c is not None and c[0] is not None and record:
            self.compact_s.append(c[1])
            self.compact_versions.append(c[0])
        with tr.span("table.maybe_analyze", batch=b):
            a = self.op(f"maybe_analyze {b}", t.maybe_analyze,
                        max_commits_stale=MAINTENANCE_THRESHOLD)
        if a is not None and a[0] is not None and record:
            self.analyze_s.append(a[1])
        if b == 0 or (record and (b + 1) % READ_EVERY == 0):
            with tr.span("table.lookup_many", batch=b, timed=record):
                lk = self.op(f"lookup {b}", lambda: t.lookup_many(self.keys[b]).select(
                    "repo", "path", "commit_seq", "content_sha256").collect())
            if lk is not None:
                self.lookups.append((len(self.lookups), hi, self.keys[b]))
                self.lookup_rows.append(lk[0])
                if record:
                    self.lookup_s.append(lk[1])
        if b == 0 or (record and (b + 1) % READ_EVERY == 0):
            with tr.span("table.scan", batch=b, timed=record):
                sc = self.op(f"scan {b}", lambda: t.read().write.format("noop")
                             .mode("overwrite").save())
            if sc is not None and record:
                self.scan_s.append(sc[1])
        done = {"apply": r, "compact": c if c and c[0] is not None else None,
                "analyze": a if a and a[0] is not None else None, "lookup": lk, "scan": sc}
        log(f"batch {b}: " + " ".join(f"{k} {v[1]:.3f} s" for k, v in done.items() if v))

    def check_lookups(self, jdirs: list[str]) -> None:
        expected = _expected_lookups(jdirs, self.lookups)
        for (i, _, ks), rows in zip(self.lookups, self.lookup_rows):
            want = {(k["repo"], k["path"]): expected[(i, k["repo"], k["path"])]
                    for k in ks if (i, k["repo"], k["path"]) in expected}
            got = {(r["repo"], r["path"]): (r["commit_seq"], r["content_sha256"])
                   for r in rows}
            self.check(f"lookup {i} rows", got == want)


def run(spark, tracer, inputs: dict, session_s: float) -> dict:
    from activedata_etl_spark.journal import read_journal
    from activedata_etl_spark.lake.table import SnapshotTable

    # ---- inputs (untimed, not part of set-up) ----
    n_batches, tail = inputs["n_batches"], inputs["tail"]
    _write_tail(spark, inputs["seed"], n_batches * BATCH_EVENTS, tail)
    jdirs = [inputs["base_journal"], tail]
    counts, keys = _batch_keys(tail, n_batches)
    log("inputs ready")
    table = SnapshotTable(spark, inputs["table"])
    loop = Loop(tracer, table, read_journal(spark, tail), keys)

    # ---- set-up: warm-up rounds ----
    with tracer.span("session.warmup"):
        t0 = time.perf_counter()
        for b in range(WARMUP_BATCHES):
            loop.round(b, record=False)
        warmup_s = time.perf_counter() - t0

    # ---- timed loop ----
    with tracer.span("ingest.timed"):
        t0 = time.perf_counter()
        for b in range(WARMUP_BATCHES, n_batches):
            loop.round(b, record=True)
        loop_s = time.perf_counter() - t0

    # ---- checks (untimed) ----
    loop.check_lookups(jdirs)
    log("lookups checked")
    last_hi = BASE_EVENTS + n_batches * BATCH_EVENTS - 1
    state = loop.op("state check", _state_matches, spark, table, inputs["base_expected"],
                    tail, last_hi)
    loop.check("table equals expected_state_df", state is not None and state[0])
    log("state checked")
    # the epoch fence: replaying the base offsets again applies nothing
    again = loop.op("re-replay", _replay, spark, inputs["base_journal"], inputs["table"],
                    BASE_EVENTS, BASE_EVENTS)
    loop.check("re-replay runs 0 batches", again is not None and again[0]["batches"] == 0)
    log("fence checked")

    out = {
        "attempted": loop.attempted,
        "failed": loop.failed,
        "e2e": {
            "setup_s": session_s + warmup_s,
            "throughput_per_s": sum(counts[WARMUP_BATCHES:]) / loop_s,
            "op_p50_s": statistics.median(loop.apply_s),
            "op_p75_s": quantile(loop.apply_s, 0.75),
        },
    }
    if tracer.enabled:
        out["layers"] = layers(spark, tracer, table, loop, inputs["base_journal"], warmup_s)
    return out


# ---------------------------------------------------------------- traced run

def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mb(n: float) -> float:
    return n / (1 << 20)


def _catch_up(spark, tracer, jdir: str) -> dict:
    """Replay the first CATCHUP_EVENTS base offsets as a chunked catch-up, then time each
    chunk's plan prefixes (scan; +normalize_keys; +lww_reduce_structmax;
    +finalize_records) through the noop sink."""
    from pyspark.sql import functions as F

    from activedata_etl_spark.functions.normalize import finalize_records, normalize_keys
    from activedata_etl_spark.journal import read_journal
    from activedata_etl_spark.lake.table import SnapshotTable
    from activedata_etl_spark.operators.lww import lww_reduce_structmax

    chunk_events = CATCHUP_EVENTS // CATCHUP_CHUNKS
    scratch = str(CACHE / "work" / "catchup_table")
    shutil.rmtree(scratch, ignore_errors=True)
    calls = []
    for i in range(CATCHUP_CHUNKS):
        with tracer.span("replay.chunk", chunk=i):
            r, dt = timed(_replay, spark, jdir, scratch, chunk_events, CATCHUP_EVENTS,
                          max_batches=1)
        calls.append((r["summaries"][0], dt))
    j = read_journal(spark, jdir)
    prefix = {"scan": [], "keys": [], "lww": [], "finalize": []}
    events = winners = 0
    for i in range(CATCHUP_CHUNKS):
        chunk = j.where(F.col("offset").between(i * chunk_events, (i + 1) * chunk_events - 1))
        plans = {"scan": chunk, "keys": normalize_keys(chunk)}
        plans["lww"] = lww_reduce_structmax(plans["keys"], KEY_COLS, VERSION_COLS)
        plans["finalize"] = finalize_records(plans["lww"])
        for name, df in plans.items():
            with tracer.span(f"prefix.{name}", chunk=i):
                _, dt = timed(df.write.format("noop").mode("overwrite").save)
            prefix[name].append(dt)
        events += chunk.count()
        winners += plans["lww"].count()
    t = SnapshotTable(spark, scratch)
    return {"calls": calls, "prefix": prefix, "winners_per_event": winners / events,
            "cow_mb": [_mb(t.dir_bytes(s["data_rel"])) for s, _ in calls
                       if s.get("merge_mode") == "cow"]}


def _referenced_bytes(table) -> tuple[int, int]:
    """Bytes of the base and of the delta files the current snapshot
    references, bucket by bucket."""
    from activedata_etl_spark.lake.table import BUCKET_COL

    snap = table.snapshot()
    base = sum(table.dir_bytes(f"{rel}/{BUCKET_COL}={b}")
               for b, rel in snap["bucket_dirs"].items())
    delta = sum(table.dir_bytes(f"{rel}/{BUCKET_COL}={b}")
                for b, rels in snap.get("delta_dirs", {}).items() for rel in rels)
    return base, delta


def layers(spark, tracer, table, loop: Loop, jdir: str, warmup_s: float) -> dict:
    from tracing import SparkRest

    cu = _catch_up(spark, tracer, jdir)
    rest = SparkRest(spark)
    tracer.attribute_jobs(rest.jobs())

    p = cu["prefix"]
    lww_spans = tracer.named("prefix.lww")
    lww_jobs = [j for s in lww_spans for j in tracer.jobs_under(s)]
    skews = []
    for j in lww_jobs:
        for stage in j["stages"]:
            reads = [t.get("taskMetrics", {}).get("shuffleReadMetrics", {}).get("recordsRead", 0)
                     for t in rest.tasks(stage)]
            if sum(reads) > 0:
                skews.append(max(reads) / (sum(reads) / len(reads)))

    applies = [s for s in tracer.named("merge.apply_batch") if s.attrs["timed"]]
    lookups = [s for s in tracer.named("table.lookup_many") if s.attrs["timed"]]
    scans = [s for s in tracer.named("table.scan") if s.attrs["timed"]]

    # write amplification: bytes the timed batches and their compactions
    # wrote, over the bytes of the winners they carried at the table's
    # bytes per row
    written = sum(table.dir_bytes(s["data_rel"]) for s in loop.summaries if s.get("data_rel"))
    written += sum(table.dir_bytes(d) for v in loop.compact_versions
                   for d in table.dirs_of_version(v))
    base_bytes, delta_bytes = _referenced_bytes(table)
    per_row = base_bytes / max(table.base_row_count() or 1, 1)
    winners = sum(s["rows_applied"] + s["deletes_applied"] for s in loop.summaries)

    calls = cu["calls"]
    return {
        "session.warmup_s": warmup_s,
        "replay.events_per_s": sum(s["rows_read"] for s, _ in calls) / sum(dt for _, dt in calls),
        "replay.loop_s": _median([dt - s["duration_ms"] / 1000 for s, dt in calls]),
        "replay.pre_pass_s": _median([s["pre_pass_ms"] / 1000 for s, _ in calls]),
        "merge.cow_rewrite_mb": _median(cu["cow_mb"]),
        "journal.scan_s": _median(p["scan"]),
        "normalize.keys_s": _median([b - a for a, b in zip(p["scan"], p["keys"])]),
        "lww.reduce_s": _median([b - a for a, b in zip(p["keys"], p["lww"])]),
        "normalize.finalize_s": _median([b - a for a, b in zip(p["lww"], p["finalize"])]),
        # per chunk, summed over its jobs: with AQE the shuffle map stage
        # and the result stage run as separate jobs
        "lww.shuffle_write_mb": _median([
            _mb(sum(j["shuffle_write_bytes"] for j in tracer.jobs_under(s))) for s in lww_spans]),
        "lww.skew_max_over_mean": max(skews, default=0.0),
        "lww.winners_per_event": cu["winners_per_event"],
        "merge.pre_pass_s": _median([s["pre_pass_ms"] / 1000 for s in loop.summaries]),
        "merge.apply_batch_s": _median([s.duration for s in applies]),
        "merge.spark_jobs_per_batch": _median([len(tracer.jobs_under(s)) for s in applies]),
        "merge.driver_only_s": _median([tracer.driver_only(s) for s in applies]),
        "merge.write_amp": written / max(winners * per_row, 1.0),
        "table.compact_s": sum(loop.compact_s),
        "table.compactions": len(loop.compact_s),
        "table.analyze_s": sum(loop.analyze_s),
        "table.analyzes": len(loop.analyze_s),
        "table.delta_files_max": loop.delta_files_max,
        "table.scan_shuffle_mb": _median([
            _mb(sum(j["shuffle_read_bytes"] for j in tracer.jobs_under(s))) for s in scans]),
        "table.lookup_spark_jobs": _median([len(tracer.jobs_under(s)) for s in lookups]),
        "table.lookup_p50_s": _median(loop.lookup_s),
        "table.lookup_p75_s": quantile(loop.lookup_s, 0.75) if loop.lookup_s else 0.0,
        "table.scan_p50_s": _median(loop.scan_s),
        "table.space_amp": table.dir_bytes("data") / (base_bytes + delta_bytes),
    }


if __name__ == "__main__":
    # the base builder, run by prepare() in a process of its own
    harness.prepare_env()
    sys.path.insert(0, str(harness.ROOT))
    build_base(sys.argv[1])
