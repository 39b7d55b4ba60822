"""query_suite: registry queries over seeded tables, each checked against
its DuckDB oracle, then timed through the noop sink.

Per run:

1. input (untimed, cached by seed): the ten query tables at ``SF``, written
   once as a check copy and copied, byte for byte, to ``timed_rounds``
   timed copies;
2. set-up, which is also the warm-up: session start, then ``SUITE`` on the
   check copy, each result collected and compared with its ``ORACLE_SQL``
   under DuckDB (the comparison itself is not timed);
3. ``timed_rounds`` rounds, each running every query of ``SUITE`` once, in
   registry order, on the round's own copy; every run computes every
   output column through the noop sink, and a query reports the median of
   its rounds.  Every copy has its own path, so no run reuses work that a
   query memoizes per input (the Jaccard pair cache).

``SUITE`` is the part of the 69-query registry that fits the run budget on
a 4-core box: a plan, dedup (embedding LSH, which buckets through
operators.similarity), sampling, temporal, funnel, text and typed JSON.  Traced runs also check and time ``TRACE_EXTRA``, the ROADMAP
targets left out of the suite.
"""

from __future__ import annotations

import importlib.util
import re
import shutil
import statistics
import traceback

from harness import CACHE, ROOT, log, quantile, timed

SF = 0.01
SUITE = [
    "q01_summary_agg",
    "dedup_embedding_lsh",
    "text_langid",
    "typed_json_props",
    "stratified_sample",
    "pii_scrub",
    "q34_sessionize",
    "q36_funnel",
]
# dedup_ngram_jaccard alone took about a quarter of an untraced run's time
TRACE_EXTRA = ["q25_edges_dense_set", "dedup_ngram_jaccard", "dedup_minhash_lsh",
               "dedup_incremental", "dedup_simhash", "sim_ann_lsh", "contamination"]
TARGETS = ["dedup_ngram_jaccard", "dedup_simhash", "dedup_minhash_lsh",
           "dedup_incremental", "contamination", "dedup_embedding_lsh",
           "sim_ann_lsh", "q34_sessionize", "typed_json_props"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# registry query -> the package layer it exercises; q01-q32 are the jx
# plans, q33-q39 the temporal and funnel operators
LAYERS = ["plans.jx_s", "operators.dedup_s", "operators.similarity_s",
          "operators.sampling_s", "operators.temporal_s", "operators.funnels_s",
          "functions.text_s"]
_PREFIX_LAYERS = [
    (("dedup_",), "operators.dedup_s"),
    (("sim_",), "operators.similarity_s"),
    (("data_split", "contamination", "quota_sample", "stratified_sample",
      "mix_sources", "pack_sequences"), "operators.sampling_s"),
    (("text_", "pii_scrub", "scrub_common", "ngram_topk"), "functions.text_s"),
]


def layer_of(name: str) -> str | None:
    m = re.match(r"q(\d+)_", name)
    if m:
        n = int(m.group(1))
        return ("plans.jx_s" if n <= 32 else
                "operators.funnels_s" if n in (36, 37) else "operators.temporal_s")
    for prefixes, layer in _PREFIX_LAYERS:
        if name.startswith(prefixes):
            return layer
    return None


def timed_rounds(seconds: int) -> int:
    """Timed rounds over the suite: one per five seconds of --seconds."""
    return max(1, seconds // 5)


def prepare(seed: int, seconds: int) -> dict:
    from datagen import write_query_tables

    base = CACHE / "query_tables" / f"sf{SF}-s{seed}"
    check = write_query_tables(str(base / "check"), SF, seed)
    copies = []
    for i in range(timed_rounds(seconds)):
        d = base / f"copy{i}"
        if not (d / "_SUCCESS").exists():
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(check, d)
        copies.append(str(d))
    return {"check": check, "timed": copies}


def _canon_frame():
    """Row canonicalization of tools/check_oracle.py."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "tools" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_frame


def _matches(got, want, canon_frame) -> bool:
    """tools/check_oracle.py's rule: equal column names and rows; an equal
    row multiset also passes, since duplicate ORDER BY keys leave tie order
    to the engine."""
    if [c.lower() for c in got.columns] != [c.lower() for c in want.columns]:
        return False
    g, w = canon_frame(got), canon_frame(want)
    return g == w or (len(g) == len(w) and sorted(map(repr, g)) == sorted(map(repr, w)))


class Suite:
    def __init__(self, spark, tracer):
        import duckdb

        from activedata_etl_spark.plans.queries import ORACLE_SQL, SPARK_QUERIES

        self.spark, self.tracer = spark, tracer
        self.queries, self.oracle = SPARK_QUERIES, ORACLE_SQL
        self.canon_frame = _canon_frame()
        self.duck = duckdb.connect()
        self.attempted = self.failed = 0

    def _run(self, what: str, fn):
        """One operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return timed(fn)
        except Exception:  # noqa: BLE001 - a failed query is counted, the run goes on
            self.failed += 1
            log(f"{what} raised:\n{traceback.format_exc()}")
            return None

    def check_pass(self, names: list[str], sf_dir: str) -> float:
        """Collect each query on ``sf_dir`` and compare it with its oracle;
        returns the Spark time."""
        for t in TABLES:
            self.duck.sql(f"CREATE OR REPLACE VIEW {t} AS "
                          f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        spark_s = 0.0
        for name in names:
            r = self._run(f"check {name}", lambda: self.queries[name](self.spark, sf_dir)
                          .toPandas())
            if r is None:
                continue
            spark_s += r[1]
            log(f"check {name}: {r[1]:.3f} s")
            want = self._run(f"oracle {name}", lambda: self.duck.sql(self.oracle[name]).df())
            if want is not None and not _matches(r[0], want[0], self.canon_frame):
                self.failed += 1
                log(f"check failed: {name} differs from its oracle")
        return spark_s

    def noop_rounds(self, names: list[str], sf_dirs: list[str]) -> dict[str, float]:
        """One round per copy in ``sf_dirs``, each running every query of
        ``names`` once, in order, through the noop sink; returns each
        query's median over the rounds.  Running the suite round by round,
        instead of each query's runs back to back, spreads a slow spell of
        the host over all queries instead of one."""
        runs = {name: [] for name in names}
        for i, sf_dir in enumerate(sf_dirs):
            line = []
            for name in names:
                with self.tracer.span("query", query=name, sf_dir=sf_dir):
                    r = self._run(f"query {name}", lambda: self.queries[name](
                        self.spark, sf_dir).write.format("noop").mode("overwrite").save())
                if r is not None:
                    runs[name].append(r[1])
                    line.append(f"{r[1]:.3f}")
            log(f"noop round {i}: " + " ".join(line) + " s")
        return {name: statistics.median(t) for name, t in runs.items()
                if len(t) == len(sf_dirs)}


def run(spark, tracer, inputs: dict, session_s: float) -> dict:
    suite = Suite(spark, tracer)
    with tracer.span("session.warmup"):
        warmup_s = suite.check_pass(SUITE, inputs["check"])
    with tracer.span("suite.timed"):
        times = suite.noop_rounds(SUITE, inputs["timed"])
    per_query = list(times.values())
    out = {
        "e2e": {
            "setup_s": session_s + warmup_s,
            "throughput_per_s": len(per_query) / sum(per_query),
            "op_p50_s": statistics.median(per_query),
            "op_p75_s": quantile(per_query, 0.75),
        },
    }
    if tracer.enabled:
        suite.check_pass(TRACE_EXTRA, inputs["check"])
        times.update(suite.noop_rounds(TRACE_EXTRA, inputs["timed"][:1]))
        out["layers"] = layers(spark, tracer, times, inputs["timed"], warmup_s)
    out["attempted"], out["failed"] = suite.attempted, suite.failed
    return out


def layers(spark, tracer, times: dict[str, float], timed_dirs: list[str],
           warmup_s: float) -> dict:
    from tracing import SparkRest

    rest = SparkRest(spark)
    tracer.attribute_jobs(rest.jobs())
    spans: dict[str, list] = {}
    for s in tracer.named("query"):
        if s.attrs["sf_dir"] in timed_dirs:
            spans.setdefault(s.attrs["query"], []).append(s)

    def median_over_runs(name: str, per_span) -> float:
        return statistics.median([per_span(s) for s in spans.get(name, [])] or [0.0])

    def shuffle_mb(s) -> float:
        return sum(j["shuffle_write_bytes"] for j in tracer.jobs_under(s)) / (1 << 20)

    def max_task_s(s) -> float:
        return max((t.get("taskMetrics", {}).get("executorRunTime", 0) / 1000
                    for j in tracer.jobs_under(s) for st in j["stages"]
                    for t in rest.tasks(st)), default=0.0)

    out = {"session.warmup_s": warmup_s}
    for layer in LAYERS:
        out[layer] = sum(t for n, t in times.items() if layer_of(n) == layer)
    for name in TARGETS:
        out[f"query.{name}_s"] = times.get(name, 0.0)
    out["query.dedup_ngram_jaccard.shuffle_mb"] = median_over_runs("dedup_ngram_jaccard", shuffle_mb)
    out["query.dedup_simhash.max_task_s"] = median_over_runs("dedup_simhash", max_task_s)
    out["query.dedup_embedding_lsh.shuffle_mb"] = median_over_runs("dedup_embedding_lsh", shuffle_mb)
    return out
