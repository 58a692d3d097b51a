"""The benchmark's workloads.

Each workload prepares seeded inputs, runs an untimed warm-up, then runs
a fixed number of operations (``op``) in a closed loop with one client,
and finally checks every operation's output outside the timed region
(``check``). ``trace_report`` adds the module-level numbers
of the traced run.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import time

import numpy as np
import pandas as pd

import data

BROWSE_QUERIES = [
    "q10_search_excerpt", "q08_nav_window", "q30_nav_transcripts",
    "q12_pagination", "q33_relevance_order", "q14_doc_numbers",
    "q15_recent_events", "q60_bm25_rank", "q65_topk_per_group",
]
HEAVY_QUERIES = [
    "q21_simhash_pairs", "q74_ivf_kmeans_topk", "q67_ivf_pq_topk",
    "q80_semdedup", "q145_cms_heavyhitters", "q84_lm_perplexity",
]
# module each heavy query mostly exercises, for the per-layer names
HEAVY_LAYER = {
    "q21_simhash_pairs": "dedup.q21_s", "q74_ivf_kmeans_topk": "similarity.q74_s",
    "q67_ivf_pq_topk": "similarity.q67_s", "q80_semdedup": "similarity.q80_s",
    "q145_cms_heavyhitters": "sketches.q145_s",
    "q84_lm_perplexity": "textstats.q84_s",
}
CHECK_SAMPLE = 200  # extraction output rows compared per operation


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return size, files


def _fingerprint(df, *context: str) -> str | None:
    """SHA-256 of ``context`` and of the columns, dtypes and row hashes of
    ``df`` in row order; None when a cell cannot be hashed (arrays)."""
    try:
        rows = pd.util.hash_pandas_object(df, index=False).values
    except TypeError:
        return None
    h = hashlib.sha256(repr((context, list(df.columns),
                             list(map(str, df.dtypes)))).encode())
    h.update(rows.tobytes())
    return h.hexdigest()


class Workload:
    name = ""
    unit = ""  # what throughput counts
    OP_S: float  # seconds a warm operation takes on 4 cores, roughly

    def __init__(self, ctx):
        self.ctx = ctx
        self.scratch = os.path.join(ctx.work, "out", self.name)

    def corpora(self) -> list[data.Corpus]:
        """Transcript corpora this workload reads (made in the first,
        unmeasured session)."""
        return []

    def prepare(self, spark) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)

    def n_ops(self) -> int:
        """Operations in the measured window: as many as fit in
        ``--seconds`` at the usual warm speed. The count is fixed before the
        window, so every run measures the same work at the same point of the
        JVM's warm-up, however busy the machine is."""
        return max(1, round(self.ctx.seconds / self.OP_S))

    def kind(self, i: int) -> str:
        """What op ``i`` does; ops of one kind cost alike."""
        return self.name

    def cleanup(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)


class ExtractBatch(Workload):
    """``pipeline.run_extraction`` over a cached non-diversified corpus."""

    name = "extract_batch"
    unit = "turns"
    N_TURNS = 20_000
    N_BUCKETS = 16
    OP_S = 5.0
    # the JVM keeps compiling for minutes; after two ops the per-op CPU
    # outside the JIT threads has mostly settled
    WARMUP_OPS = 2

    def corpora(self):
        seed = self.ctx.seed
        extra = CurateIncremental(self.ctx).corpora() if self.ctx.trace else []
        # ~10 turns per conversation: enough conversations that hashing
        # them onto partitions gives every seed a similar skew
        return [data.Corpus("extract", seed, self.N_TURNS,
                            n_files=self.ctx.cores * 2, diversify=False,
                            id_offset=data.id_offset(seed, self.N_TURNS),
                            n_convs=self.N_TURNS // 10),
                *extra]

    def prepare(self, spark):
        super().prepare(spark)
        corpus = self.corpora()[0]
        path = corpus.path(self.ctx.work)
        self.input_bytes = _dir_bytes_files(path)[0]
        self.tr = spark.read.parquet(path)
        self.n_in = self.tr.count()
        self.ids = range(corpus.id_offset, corpus.id_offset + self.N_TURNS)

    def _run(self, spark, out):
        from epstein_browser_spark.pipeline import run_extraction

        return run_extraction(spark, self.tr, out, n_buckets=self.N_BUCKETS,
                              n_partitions=self.ctx.cores * 2, resume=False)

    def warmup(self, spark):
        for i in range(self.WARMUP_OPS):
            self._run(spark, os.path.join(self.scratch, f"warm{i}"))

    def op(self, spark, i, tracer):
        out = os.path.join(self.scratch, f"op{i}")
        m = self._run(spark, out)
        return m["rows_out"], out

    def check(self, spark, out) -> list[str]:
        from epstein_browser_spark.core import reference_oracle as ro
        from epstein_browser_spark.udfs import extract_pdf_batch

        if not hasattr(self, "check_rng"):
            self.check_rng = random.Random(self.ctx.seed)
        keys = sorted(self.check_rng.sample(self.ids, CHECK_SAMPLE))
        src = self.tr.filter(self.tr.turn_idx.isin(keys)).toPandas()
        src = src.set_index("turn_idx").loc[keys].reset_index()
        src["ts_us"] = src.pop("ts").astype("datetime64[us]").astype("int64")
        errors = []
        got = spark.read.parquet(f"{out}/data")
        n = got.count()
        if n != self.n_in:
            errors.append(f"{n} rows out of {self.n_in} in")
        done = []
        for p in glob.glob(f"{out}/_manifests/bucket-*.json"):
            with open(p) as f:
                m = json.load(f)
            if m["status"] == "completed":
                done.append(m)
        if sum(m["rows_out"] for m in done) != self.n_in:
            errors.append("completed manifests do not cover the input")
        exp = extract_pdf_batch(src)
        act = (got.filter(got.turn_idx.isin(keys)).toPandas()
               .set_index("turn_idx").reindex(keys).reset_index())
        for col in ["conv_id", "clean_text", "quality_score", "quality_reason",
                    "is_low_quality", "lq_reason", "parse_failed", "attempts",
                    "chars_out"]:
            if not (act[col].values == exp[col].values).all():
                errors.append(f"column {col} differs from udfs.extract_pdf_batch")
        for r in act.itertuples():
            text = r.clean_text or ""
            if (r.content_hash != ro.content_hash(text)
                    or (r.quality_score, r.quality_reason)
                    != ro.quality_score(text)):
                errors.append(f"turn {r.turn_idx} differs from reference_oracle")
                break
        return errors

    def trace_report(self, spark, tracer, window) -> dict:
        from epstein_browser_spark.pipeline import extract_transcripts

        t = time.perf_counter()
        with tracer.span("pipeline.extract_transcripts_noop", "pipeline"):
            _noop(extract_transcripts(self.tr, n_buckets=self.N_BUCKETS,
                                      n_partitions=self.ctx.cores * 2))
        extract_s = time.perf_counter() - t
        out = window["outputs"][-1]
        written, files = _dir_bytes_files(out)
        op_s = window["op_p50_s"]
        return {
            **self._curation_layers(spark, tracer),
            "pipeline.extract_s": extract_s,
            "pipeline.sink_s": op_s - extract_s,
            "pipeline.shuffle_write_bytes": window["spark"]["shuffle_write_bytes"]
            / window["n_ops"],
            "pipeline.task_skew": window["spark"]["task_skew"],
            "udfs.arrow_bytes_per_turn": (window["spark"]["python_bytes_sent"]
                                          + window["spark"]["python_bytes_returned"])
            / max(1, window["units"]),
            "fsutil.files_written": files,
            "fsutil.write_amp": written / max(1, self.input_bytes),
        }

    def _curation_layers(self, spark, tracer) -> dict:
        """One curation cycle (run_curation + run_curation_increment, whose
        first stage is run_extraction) after an untimed ``run_curation`` on
        a tenth of the base corpus, for the dedup and curation layers. The
        increment shares most of its code with run_curation; warming it too
        (~20 s) would bring a traced run under load close to 180 s."""
        from epstein_browser_spark.curation import run_curation

        cur = CurateIncremental(self.ctx)
        cur.prepare(spark)
        run_curation(spark, cur.small, os.path.join(cur.scratch, "warmup"),
                     n_buckets=self.ctx.cores * 2,
                     n_partitions=self.ctx.cores * 2, resume=False)
        with tracer.span("op.curation_cycle", "bench"):
            _, out = cur.op(spark, 0, tracer)
        report = cur.trace_report(spark, tracer, {"outputs": [out]})
        report["extra_ops"] = [cur.check(spark, out)]
        cur.cleanup()
        return report


class CurateIncremental(Workload):
    """``curation.run_curation`` then ``run_curation_increment`` on a batch
    that is half redelivered ids and half new ones."""

    name = "curate_incremental"
    unit = "turns"
    N_TURNS = 2_000
    N_INCR = 200
    OP_S = 30.0

    def corpora(self):
        seed, n = self.ctx.seed, self.N_TURNS
        off = data.id_offset(seed, n)
        # the increment's first half repeats the base corpus's last ids
        return [
            data.Corpus("curate", seed, n, n_files=self.ctx.cores,
                        diversify=True, id_offset=off),
            data.Corpus("increment", seed, self.N_INCR, n_files=self.ctx.cores,
                        diversify=True, id_offset=off + n - self.N_INCR // 2,
                        n_convs=n // 40),
        ]

    def prepare(self, spark):
        super().prepare(spark)
        base, incr = self.corpora()
        self.base = spark.read.parquet(base.path(self.ctx.work))
        self.incr = spark.read.parquet(incr.path(self.ctx.work))
        self.redelivered = (incr.id_offset, base.id_offset + self.N_TURNS)
        self.small = self.base.limit(self.N_TURNS // 10)

    def _cycle(self, spark, base, incr, out):
        from epstein_browser_spark.curation import (
            run_curation,
            run_curation_increment,
        )

        kw = {"n_buckets": self.ctx.cores * 2,
              "n_partitions": self.ctx.cores * 2, "resume": False}
        t = time.perf_counter()
        m = run_curation(spark, base, out, **kw)
        mid = time.perf_counter()
        mi = run_curation_increment(spark, incr, out,
                                    snapshot=f"seed{self.ctx.seed}", **kw)
        return m, mi, mid - t, time.perf_counter() - mid

    def warmup(self, spark):
        self._cycle(spark, self.small, self.incr,
                    os.path.join(self.scratch, "warmup"))

    def op(self, spark, i, tracer):
        out = os.path.join(self.scratch, f"op{i}")
        m, mi, base_s, incr_s = self._cycle(spark, self.base, self.incr, out)
        self.last = {"m": m, "mi": mi, "curate_s": base_s,
                     "increment_s": incr_s}
        return self.N_TURNS + self.N_INCR, {"out": out, **self.last}

    def check(self, spark, o) -> list[str]:
        from pyspark.sql import functions as F

        from epstein_browser_spark.curation import CURATED_INCR, read_curated

        errors = []
        lo, hi = self.redelivered
        out = o["out"]
        everything = read_curated(spark, out)
        dup = (everything.groupBy("content_hash").count()
               .filter("count > 1").count())
        if dup:
            errors.append(f"{dup} content_hash values repeat")
        incr = spark.read.parquet(f"{out}/{CURATED_INCR}")
        n_incr = incr.count()
        n_base = everything.count() - n_incr
        if n_incr != o["mi"]["curate"]["n_docs"]:
            errors.append(f"increment has {n_incr} rows, reported "
                          f"{o['mi']['curate']['n_docs']}")
        if n_base != o["m"]["curate"]["n_docs"]:
            errors.append(f"base has {n_base} rows, reported "
                          f"{o['m']['curate']['n_docs']}")
        again = incr.filter(F.col("turn_idx").between(lo, hi - 1)).count()
        if again:
            errors.append(f"{again} redelivered turns were added")
        return errors

    def trace_report(self, spark, tracer, window) -> dict:
        m = self.last["m"]
        cur = m["curate"]
        stages = cur["stage_sec"]
        caps = {**cur.get("cap_metrics", {})}
        incr_caps = self.last["mi"]["curate"].get("cap_metrics", {})
        curate_total = self.last["curate_s"] - m["extract"]["elapsed_sec"]

        def drop_ratio(d, kind, passed=False):
            """Share of the cap's rows dropped (or passed), with its base."""
            v = d.get(kind, {})
            seen = v.get("rows_seen", 0)
            dropped = v.get("rows_dropped", 0)
            part = seen - dropped if passed else dropped
            return {"value": part / seen if seen else 0.0, "base": seen}

        return {
            "dedup.pairs_cc_s": stages.get("dedup_pairs_cc", 0.0),
            "dedup.verify_pass_ratio": drop_ratio(caps, "verify_prefilter",
                                                  passed=True),
            "dedup.lsh_cap_drop_ratio": drop_ratio(caps, "lsh_bucket_cap"),
            "curation.band_index_s": stages.get("band_index", 0.0),
            "curation.gate_stats_s": stages.get("gate_stats_materialize", 0.0),
            "curation.write_manifests_s": stages.get("write_manifests", 0.0),
            "curation.unstaged_s": curate_total - sum(stages.values()),
            "curation.probe_cap_drop_ratio": drop_ratio(incr_caps,
                                                        "probe_bucket_cap"),
            "curation.cap_metrics": {"base": caps, "increment": incr_caps},
            "curate_s": self.last["curate_s"],
            "increment_s": self.last["increment_s"],
            "curation.files_written": _dir_bytes_files(
                window["outputs"][-1]["out"])[1],
        }


class QueryLoop(Workload):
    """A closed loop with one client over a seeded query order."""

    unit = "queries"
    QUERIES: list[str] = []
    SF = "0.1"  # scale of the test tables the queries read
    ROUND_S = 5.0  # one warm round of the queries on 4 cores, roughly
    # the first round runs ~2x as long as later ones, the second ~20% longer
    WARMUP_ROUNDS = 2

    def prepare(self, spark):
        import duckdb

        from epstein_browser_spark.queries import QUERIES

        super().prepare(spark)
        self.tables = data.query_tables(self.SF)
        self.fns = {q: QUERIES[q] for q in self.QUERIES}
        self.con = duckdb.connect()
        for f in os.listdir(self.tables):
            self.con.sql(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                         f"SELECT * FROM '{self.tables}/{f}'")
        # the seed picks the query order only
        self.rng = random.Random(self.ctx.seed)
        self.order: list[str] = []
        self.expected: dict = {}
        # fingerprints of outputs that equalled their oracle, in this or an
        # earlier run on the same tables
        with open(os.path.join(data.TABLES, "SHA256SUMS"), "rb") as f:
            self.tables_sum = hashlib.sha256(f.read()).hexdigest()
        self.passed_file = os.path.join(self.ctx.work, "oracle_passed.txt")
        self.passed = set()
        if os.path.exists(self.passed_file):
            with open(self.passed_file) as f:
                self.passed = set(f.read().split())

    def kind(self, i):
        return self.next_query(i)

    def next_query(self, i: int) -> str:
        while len(self.order) <= i:
            rnd = list(self.QUERIES)
            self.rng.shuffle(rnd)
            self.order.extend(rnd)
        return self.order[i]

    def n_ops(self):
        # whole rounds only, so every run times the same query multiset
        return len(self.QUERIES) * max(1, round(self.ctx.seconds
                                                / self.ROUND_S))

    def run_query(self, spark, name, tracer):
        fn, _sql = self.fns[name]
        with tracer.span(f"queries.build.{name}", "queries"):
            df = fn(spark, self.tables)
        with tracer.span(f"queries.exec.{name}", "spark"):
            return df.toPandas()

    def warmup(self, spark):
        for _ in range(self.WARMUP_ROUNDS):
            for name in self.QUERIES:
                self.run_query(spark, name, NULL_TRACER)

    def op(self, spark, i, tracer):
        name = self.next_query(i)
        return 1, (name, self.run_query(spark, name, tracer))

    def check(self, spark, output) -> list[str]:
        from tools.check_oracle import _normalize

        name, got = output
        # an output identical, row for row, to one that already matched the
        # same oracle matches too; normalising q08's 600k rows takes seconds
        key = _fingerprint(got, name, self.fns[name][1], self.tables_sum)
        if key is not None and key in self.passed:
            return []
        if name not in self.expected:
            self.expected[name] = _normalize(
                self.con.sql(self.fns[name][1]).df())
        exp = self.expected[name]
        if sorted(got.columns) != list(exp.columns) or len(got) != len(exp):
            return [f"{name}: shape differs from the DuckDB oracle"]
        if not _normalize(got).equals(exp):
            return [f"{name}: values differ from the DuckDB oracle"]
        if key is not None:
            self.passed.add(key)
            with open(self.passed_file, "a") as f:
                f.write(key + "\n")
        return []

    def trace_report(self, spark, tracer, window) -> dict:
        builds = [s["end"] - s["start"] for s in tracer.spans
                  if s["name"].startswith("queries.build.")]
        execs = [s["end"] - s["start"] for s in tracer.spans
                 if s["name"].startswith("queries.exec.")]
        n = window["n_ops"]
        return {
            "queries.build_ms": 1e3 * float(np.median(builds)),
            "queries.exec_ms": 1e3 * float(np.median(execs)),
            "queries.jobs_per_request": window["spark"]["jobs"] / n,
            "queries.tasks_per_request": window["spark"]["tasks"] / n,
        }


class BrowseInteractive(QueryLoop):
    name = "browse_interactive"
    QUERIES = BROWSE_QUERIES

    def trace_report(self, spark, tracer, window):
        return {**super().trace_report(spark, tracer, window),
                **self._heavy_layers(spark, tracer)}

    def _heavy_layers(self, spark, tracer) -> dict:
        """One pass of the heavy queries on their own tables after an
        untimed one, for the similarity, sketches, textstats and q21 dedup
        layers."""
        heavy = AnalyticsHeavy(self.ctx)
        heavy.prepare(spark)
        heavy.warmup(spark)
        report = {"extra_ops": []}
        for name in HEAVY_QUERIES:
            t = time.perf_counter()
            with tracer.span("op.heavy", "bench"):
                got = heavy.run_query(spark, name, tracer)
            report[HEAVY_LAYER[name]] = time.perf_counter() - t
            report["extra_ops"].append(heavy.check(spark, (name, got)))
        heavy.cleanup()
        return report


class AnalyticsHeavy(QueryLoop):
    name = "analytics_heavy"
    QUERIES = HEAVY_QUERIES
    SF = "0.01"  # a pass at 0.1 takes ~30 s warm on 4 cores
    ROUND_S = 20.0  # a pass is planning-bound: ~20 s even at 0.01
    WARMUP_ROUNDS = 1

    def trace_report(self, spark, tracer, window):
        """Seconds per query (build + execution), averaged over rounds."""
        report = super().trace_report(spark, tracer, window)
        n_rounds = max(1, window["n_ops"] // len(self.QUERIES))
        for s in tracer.spans:
            kind, _, q = s["name"].rpartition(".")
            if kind in ("queries.build", "queries.exec"):
                key = HEAVY_LAYER[q]
                report[key] = report.get(key, 0.0) + (
                    s["end"] - s["start"]) / n_rounds
        return report


class _NullTracer:
    """Tracer stand-in for the untraced window: spans cost one call."""

    class _Null:
        def __enter__(self):
            return None

        def __exit__(self, *exc):
            return False

    _null = _Null()
    spans: list = []

    def span(self, name, layer):
        return self._null


NULL_TRACER = _NullTracer()

WORKLOADS = {w.name: w for w in
             (ExtractBatch, CurateIncremental, BrowseInteractive,
              AnalyticsHeavy)}


def kernel_probe(seed: int) -> dict:
    """In-driver kernel throughput on a seeded pandas sample covering every
    content class: ``core`` (extract_batch + assess_batch) and ``udfs``
    (extract_pdf_batch, which adds the retry passes)."""
    from epstein_browser_spark.core.extract import extract_batch
    from epstein_browser_spark.core.quality import assess_batch
    from epstein_browser_spark.synth import make_transcripts_pdf
    from epstein_browser_spark.udfs import extract_pdf_batch

    pdf = make_transcripts_pdf(n_convs=300, seed=seed % (2**32 - 1))
    pdf["ts_us"] = pdf["ts"].astype("datetime64[us]").astype("int64")
    pdf = pdf.drop(columns=["ts"])

    def best_rate(fn) -> float:
        times = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
        return len(pdf) / float(np.median(times))

    def core():
        res = extract_batch(pdf["text"], pdf["tool"])
        assess_batch(res["clean_text"])

    return {"core.kernel_turns_per_s": best_rate(core),
            "udfs.batch_turns_per_s": best_rate(lambda: extract_pdf_batch(pdf))}

