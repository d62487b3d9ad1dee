"""One benchmark process: start Spark, run one workload, print one JSON line.

Started by ``perfbench/run.py`` with the checkout root as working
directory, the way the README runs the CLI.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import checks, corpus, fakellm, suite, tables  # noqa: E402
from perfbench.trace import JobStats, RssSampler, Tracer, cpu_seconds  # noqa: E402

# Input sizes.  "tiny" is for the benchmark's own smoke test.
SIZES = {
    "full": {"news_rows": 8_000, "llm_rows": 1_500, "suite": suite.GROUPS, "sf": 0.01},
    "tiny": {"news_rows": 1_500, "llm_rows": 300, "suite": suite.TINY, "sf": 0.001},
}
# Passes per workload.  A run makes the same number of passes on every
# commit, about --seconds of measured passes on a 4-vCPU VM: with a time
# window a faster commit would make more passes and, as the JIT keeps
# speeding passes up for a while, read faster still.  Before them come the
# first, checked pass and WARM_PASSES more, none measured: the JIT takes
# news_etl from ~2.3 s to ~1.6 s a pass over its first six passes and
# operator_suite from ~7.3 s to ~5.4 s over its first three, and timing that
# slope made the median follow how fast the host let the JIT work.
# llm_enrich waits on the model and is flat from its first pass.
PASS_S = {"news_etl": 1.6, "llm_enrich": 3.2, "operator_suite": 5.4}
WARM_PASSES = {"news_etl": 5, "llm_enrich": 0, "operator_suite": 2}
# At least this many measured passes, for a median that one or two passes
# slowed by the host cannot move; operator_suite's passes are long, so
# --seconds alone would give it only two or three.
MIN_PASSES = {"news_etl": 3, "llm_enrich": 3, "operator_suite": 5}
# Fake-model settings per workload: (raise %, malformed %, latency s, wire-copy share)
MODEL = {"news_etl": (2, 2, 0.0, 0.0), "llm_enrich": (5, 5, 0.002, 0.5)}


def _one(pattern: str) -> str:
    found = glob.glob(pattern)
    if len(found) != 1:
        raise RuntimeError(f"expected one output for {pattern}, found {len(found)}")
    return found[0]


def _tree_size(path: str) -> tuple[int, int]:
    files = [f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
             if os.path.isfile(f)]
    return len(files), sum(os.path.getsize(f) for f in files)


def _median(values):
    return statistics.median(values) if values else 0.0


class Workload:
    """Base: a closed loop of passes; subclasses define one pass."""

    def __init__(self, spark, work: str, seed: int, size: dict, tracer: Tracer, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.stats = JobStats(spark) if trace else None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)

    def prepare(self) -> None:
        pass

    def run_pass(self, k: int) -> dict:
        raise NotImplementedError

    def layer_metrics(self, k: int, info: dict) -> dict:
        return {}

    def check(self, k: int, info: dict) -> None:
        pass

    def warm(self) -> None:
        """The untimed first pass, checked."""
        self.check(0, self.run_pass(0))

    def discard(self, k: int) -> None:
        """Drop a finished pass's outputs."""
        shutil.rmtree(os.path.join(self.work, f"pass{k}"), ignore_errors=True)


class _Llm(Workload):
    """Shared by the two workloads that enrich through the fake model."""

    def install_model(self, workload: str) -> None:
        from pyspark import cloudpickle

        from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import enrich

        self.raise_pct, self.malformed_pct, latency, self.wire = MODEL[workload]
        cloudpickle.register_pickle_by_value(fakellm)
        self.model = fakellm.FakeModel(self.sc, self.raise_pct, self.malformed_pct, latency)
        enrich.set_transport(self.model)

    def llm_metrics(self, rows: int) -> dict:
        m = self.model
        out = {"llm.calls": m.calls.value, "llm.busy_s": m.busy.value,
               "llm.raised": m.raised.value, "llm.malformed": m.malformed.value,
               "llm_calls_per_row": m.calls.value / rows if rows else 0.0}
        if m.seen is not None:
            out["llm.repeat_calls"] = m.calls.value - len(m.seen.value)
        return out

    def enrich_metrics(self, k: int, enriched: str) -> dict:
        g = self.stats.group(f"enrich#{k}")
        errors = sum(1 for s in checks.read_dir(enriched, ["sentiment_llm"])
                     .column(0).to_pylist() if s == checks.ERROR)
        return {"enrich.wall_s": self.tracer.seconds("enrich", k),
                "enrich.tasks": g["tasks"], "enrich.executor_run_s": g["executor_run_s"],
                "enrich.executor_cpu_s": g["executor_cpu_s"],
                "enrich.python_bytes_sent": g["python_bytes_sent"],
                "enrich.error_api_rows": errors}

    def wrap_enrich(self, cli) -> None:
        cli.enrich_to_parquet = self.traced(cli.enrich_to_parquet, "enrich", "enrich")

    def traced(self, fn, name: str, group: str | None):
        tracer, sc = self.tracer, self.sc

        def wrapper(*a, **kw):
            with tracer.span(name, sc, group):
                return fn(*a, **kw)

        return wrapper


class NewsEtl(_Llm):
    """clean -> enrich -> load through ``cli.main`` on a seeded corpus."""

    def prepare(self) -> None:
        from project_market_pulse_etl_pipeline_with_llm_integration_spark import cli

        self.cli = cli
        self.corpus = corpus.generate(self.seed, self.size["news_rows"])
        self.raw = os.path.join(self.work, "raw", "news.jsonl")
        os.makedirs(os.path.dirname(self.raw))
        corpus.write_jsonl(self.corpus, self.raw)
        self.install_model("news_etl")
        if self.stats is not None:
            from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import clean

            cli.extract_and_clean = self.traced(cli.extract_and_clean, "clean", None)
            clean.read_news_jsonl = self.traced(clean.read_news_jsonl, "clean.construct", "clean.construct")
            clean.clean_news = self.traced(clean.clean_news, "clean.construct", "clean.construct")
            clean.write_parquet_timestamped = self.traced(
                clean.write_parquet_timestamped, "clean.write", "clean.write")
            cli.index_table = self.traced(cli.index_table, "catalog.load", "catalog")
            self.wrap_enrich(cli)

    def run_pass(self, k: int) -> dict:
        from project_market_pulse_etl_pipeline_with_llm_integration_spark.plans.catalog import (
            register_external_table,
        )
        from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.writers import (
            write_parquet_timestamped,
        )

        d = os.path.join(self.work, f"pass{k}")
        tr, sc, info = self.tracer, self.sc, {}
        self.model.reset(self.tracer.enabled)
        t0 = time.perf_counter()
        for stage in ("clean", "enrich", "load"):
            self.attempted += 1
            if stage == "clean":
                ok = self.cli.main(["clean", self.raw, f"{d}/clean"]) == 0
                if ok:
                    info["clean"] = _one(f"{d}/clean/clean_data_*.parquet")
            elif stage == "enrich":
                ok = self.cli.main(["enrich", info["clean"], f"{d}/enriched", "--rate", "0"]) == 0
                if ok:
                    info["enriched"] = _one(f"{d}/enriched/final_enriched_data_*.parquet")
            else:
                with tr.span("writers", sc, "writers"):
                    df = self.spark.read.parquet(info["enriched"])
                    info["published"] = write_parquet_timestamped(
                        df, f"{d}/published", "enriched", partition_by=["category"])
                ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema)
                info["table"] = f"bench_news_{k}"
                with tr.span("catalog.register", sc, "catalog"):
                    register_external_table(self.spark, info["table"], info["published"],
                                            ddl, partition_cols=["category"])
                ok = self.cli.main(["load", "default", info["table"]]) == 0
            if not ok:
                self.fail(f"pass {k}: {stage} stage failed")
                break
        info["wall_s"] = time.perf_counter() - t0
        info["ok"] = ok
        if ok:
            info["llm"] = self.llm_metrics(len(self.corpus.kept))
            info["summary"] = {"llm_calls_per_row": info["llm"]["llm_calls_per_row"]}
        return info

    def layer_metrics(self, k: int, info: dict) -> dict:
        if not info["ok"]:
            return {}
        st, tr = self.stats, self.tracer
        cons, wr = st.group(f"clean.construct#{k}"), st.group(f"clean.write#{k}")
        files = nbytes = 0
        for key in ("clean", "enriched", "published"):
            f, b = _tree_size(info[key])
            files, nbytes = files + f, nbytes + b
        out = {
            "clean.construct_s": tr.seconds("clean.construct", k),
            "clean.construct_jobs": cons["jobs"],
            "clean.write_s": tr.seconds("clean.write", k),
            "clean.rows_in": self.corpus.rows_in,
            "clean.rows_kept": checks.read_dir(info["clean"], ["id_news"]).num_rows,
            "clean.shuffle_write_bytes": cons["shuffle_write_bytes"] + wr["shuffle_write_bytes"],
            "clean.executor_cpu_s": cons["executor_cpu_s"] + wr["executor_cpu_s"],
            "clean.gc_s": cons["gc_s"] + wr["gc_s"],
            "writers.files": files,
            "writers.bytes": nbytes,
            "catalog.load_s": tr.seconds("catalog.register", k) + tr.seconds("catalog.load", k),
            "catalog.partitions": self.spark.sql(f"SHOW PARTITIONS {info['table']}").count(),
        }
        out.update(self.enrich_metrics(k, info["enriched"]))
        return out

    def check(self, k: int, info: dict) -> None:
        if not info["ok"]:
            return
        for name, run in (
            ("clean", lambda: checks.check_clean(checks.read_dir(info["clean"]), self.corpus)),
            ("enrich", lambda: checks.check_enriched(
                checks.read_dir(info["enriched"]), self.raise_pct, self.malformed_pct,
                len(self.corpus.kept))),
            ("load", lambda: checks.check_table(self.spark, info["table"], self.corpus)),
        ):
            self.attempted += 1
            problems = run()
            if problems:
                self.fail(f"pass {k} {name} check: " + "; ".join(problems))


class LlmEnrich(_Llm):
    """The CLI enrich stage alone, on clean output with wire copies, against
    a model that waits a few ms per call and fails a fixed share of calls."""

    def prepare(self) -> None:
        from project_market_pulse_etl_pipeline_with_llm_integration_spark import cli

        self.cli = cli
        self.install_model("llm_enrich")
        self.corpus = corpus.generate(self.seed, self.size["llm_rows"], wire_share=self.wire)
        raw = os.path.join(self.work, "raw", "news.jsonl")
        os.makedirs(os.path.dirname(raw))
        corpus.write_jsonl(self.corpus, raw)
        if cli.main(["clean", raw, f"{self.work}/clean"]) != 0:
            raise RuntimeError("clean stage failed while preparing the llm_enrich input")
        self.clean = _one(f"{self.work}/clean/clean_data_*.parquet")
        if self.stats is not None:
            self.wrap_enrich(cli)

    def run_pass(self, k: int) -> dict:
        d = os.path.join(self.work, f"pass{k}")
        self.model.reset(self.tracer.enabled)
        self.attempted += 1
        t0 = time.perf_counter()
        ok = self.cli.main(["enrich", self.clean, f"{d}/enriched", "--rate", "0"]) == 0
        info = {"wall_s": time.perf_counter() - t0, "ok": ok}
        if ok:
            info["enriched"] = _one(f"{d}/enriched/final_enriched_data_*.parquet")
            info["llm"] = self.llm_metrics(len(self.corpus.kept))
            info["summary"] = {"llm_calls_per_row": info["llm"]["llm_calls_per_row"]}
        else:
            self.fail(f"pass {k}: enrich stage failed")
        return info

    def layer_metrics(self, k: int, info: dict) -> dict:
        if not info["ok"]:
            return {}
        files, nbytes = _tree_size(info["enriched"])
        out = {"writers.files": files, "writers.bytes": nbytes}
        out.update(self.enrich_metrics(k, info["enriched"]))
        return out

    def check(self, k: int, info: dict) -> None:
        if not info["ok"]:
            return
        self.attempted += 1
        problems = checks.check_enriched(checks.read_dir(info["enriched"]), self.raise_pct,
                                         self.malformed_pct, len(self.corpus.kept))
        if problems:
            self.fail(f"pass {k} enrich check: " + "; ".join(problems))


class OperatorSuite(Workload):
    """One pass over the fixed registry query list; each query is built
    (construct) and then run through the noop sink (exec)."""

    def prepare(self) -> None:
        import __spark_entry__ as entry

        self.sf_dir = tables.write(os.path.join(self.work, "tables"), self.size["sf"])
        self.groups = self.size["suite"]
        self.names = [q for qs in self.groups.values() for q in qs]
        self.queries = entry.queries()

    def run_pass(self, k: int, collect: bool = False) -> dict:
        tr, sc = self.tracer, self.sc
        info = {"construct": {}, "exec": {}, "rows": {}, "ok": True}
        t0 = time.perf_counter()
        for name in self.names:
            self.attempted += 1
            try:
                t1 = time.perf_counter()
                with tr.span(f"q.{name}.construct", sc, f"q.{name}.construct"):
                    df = self.queries[name](self.spark, self.sf_dir)
                t2 = time.perf_counter()
                with tr.span(f"q.{name}.exec", sc, f"q.{name}.exec"):
                    if collect:
                        info["rows"][name] = (df.columns, [tuple(r) for r in df.collect()])
                    else:
                        df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            except Exception as exc:  # a query raising is a failed operation
                self.fail(f"pass {k}: {name} raised {type(exc).__name__}: {exc}"[:300])
                info["ok"] = False
                continue
            info["construct"][name], info["exec"][name] = t2 - t1, t3 - t2
            log(f"  {name} construct {t2 - t1:.3f} exec {t3 - t2:.3f}")
        info["wall_s"] = time.perf_counter() - t0
        spent = {q: info["construct"].get(q, 0.0) + info["exec"].get(q, 0.0) for q in self.names}
        info["summary"] = {f"{g}_s": sum(spent[q] for q in qs) for g, qs in self.groups.items()}
        return info

    def layer_metrics(self, k: int, info: dict) -> dict:
        out = {}
        for g, qs in self.groups.items():
            agg = {"construct_jobs": 0, "exec_jobs": 0, "executor_run_s": 0.0,
                   "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
                   "python_bytes": 0.0}
            for q in qs:
                for phase in ("construct", "exec"):
                    s = self.stats.group(f"q.{q}.{phase}#{k}")
                    agg[f"{phase}_jobs"] += s["jobs"]
                    for key in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes"):
                        agg[key] += s[key]
                    agg["python_bytes"] += s["python_bytes_sent"] + s["python_bytes_received"]
                out[f"q.{q}.construct_s"] = info["construct"].get(q, 0.0)
                out[f"q.{q}.exec_s"] = info["exec"].get(q, 0.0)
            out[f"{g}.construct_s"] = sum(info["construct"].get(q, 0.0) for q in qs)
            out[f"{g}.exec_s"] = sum(info["exec"].get(q, 0.0) for q in qs)
            out[f"{g}_s"] = info["summary"][f"{g}_s"]
            out.update({f"{g}.{key}": v for key, v in agg.items()})
        return out

    def warm(self) -> None:
        """The untimed first pass collects every result and checks it
        against the query's DuckDB oracle; a query without one fails."""
        info = self.run_pass(0, collect=True)
        log("oracle")
        oracle = checks.Oracle(ROOT, self.sf_dir, tables.TABLES)
        for name, (cols, rows) in info["rows"].items():
            self.attempted += 1
            try:
                problems = oracle.check(name, cols, rows) if oracle.has(name) else [
                    f"{name}: no DuckDB oracle"]
            except Exception as exc:
                problems = [f"{name}: check raised {type(exc).__name__}: {exc}"[:300]]
            if problems:
                self.fail("; ".join(problems))


WORKLOADS = {"news_etl": NewsEtl, "llm_enrich": LlmEnrich, "operator_suite": OperatorSuite}


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def measure(w: Workload, warm: int, passes: int, trace: bool, rss: RssSampler) -> dict:
    """A checked, unmeasured first pass, ``warm`` more unmeasured ones, then
    ``passes`` measured ones.  With ``trace``, measured passes alternate
    untraced and traced."""
    w.tracer.enabled = False
    log("warm pass")
    w.warm()
    for k in range(1, warm + 1):
        w.discard(k - 1)
        info = w.run_pass(k)
        log(f"warm pass {k} {info['wall_s']:.3f} s")
    k = warm + 1
    plain, traced, layers, summary, cpus = [], [], [], [], []
    for i in range(passes):
        w.discard(k - 1)
        on = trace and i % 2 == 1
        w.tracer.enabled, w.tracer.pass_id = on, k
        if on:
            w.stats.mark()
        rss.start()
        c0 = cpu_seconds()
        info = w.run_pass(k)
        info["cpu_s"] = cpu_seconds() - c0
        rss.pause()
        w.tracer.enabled = False
        (traced if on else plain).append(info["wall_s"])
        if not on:
            cpus.append(info["cpu_s"])
        summary.append(info)
        if on and info["ok"]:
            w.stats.drain()
            layers.append({**w.layer_metrics(k, info), **info.get("llm", {})})
        log(f"pass {k} {'traced' if on else 'untraced'} {info['wall_s']:.3f} s, cpu {info['cpu_s']:.3f} s")
        k += 1
    w.check(k - 1, info)
    log("checked")
    keys = sorted({key for m in layers for key in m})
    return {
        "walls": plain,
        "cpus": cpus,
        "traced_walls": traced,
        "layers": {key: _median([m[key] for m in layers if key in m]) for key in keys},
        "summary": summary,
    }


def _summary_medians(infos: list[dict]) -> dict:
    """Medians over the measured passes of each pass's ``summary`` values."""
    keys = sorted({key for i in infos for key in i.get("summary", {})})
    return {key: _median([i["summary"][key] for i in infos if key in i.get("summary", {})])
            for key in keys}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--t0", type=float, required=True, help="parent's clock at spawn")
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)

    from project_market_pulse_etl_pipeline_with_llm_integration_spark import cli  # noqa: F401
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.session import (
        ensure_engine_confs,
        get_spark,
    )

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    if args.workload == "operator_suite":
        import __spark_entry__  # noqa: F401

        ensure_engine_confs(spark)
    spark.range(1).count()
    setup_s = time.time() - args.t0
    log(f"set up in {setup_s:.3f} s")

    work = os.path.join(args.work, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(enabled=False)
    w = WORKLOADS[args.workload](spark, work, args.seed, SIZES[args.size], tracer,
                                 bool(args.trace))
    rss = RssSampler()
    try:
        w.prepare()
        log("inputs ready")
        passes = max(MIN_PASSES[args.workload], round(args.seconds / PASS_S[args.workload]))
        warm = WARM_PASSES[args.workload] if args.size == "full" else 0
        res = measure(w, warm, passes, bool(args.trace), rss)
    finally:
        rss.close()
    if args.trace:
        tracer.dump(os.path.join(work, "spans.json"))
    res.update(
        setup_s=setup_s,
        rss={k: v / 2**20 for k, v in rss.peak.items()},
        attempted=w.attempted,
        failed=w.failed,
        problems=w.problems,
        extra=_summary_medians(res.pop("summary")),
    )
    print(json.dumps(res))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
