#!/usr/bin/env python3
"""Call-to-last-row benchmark of the churn pipeline engine.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 3 --trace 0

One run is one fresh Python+JVM process: ``local[nproc]``, shuffle
partitions = nproc, one client thread that runs ops back to back (a closed
loop). An op is timed from the call into a public function until its last
row is written: a registered query's ``fn(spark, sf)`` plus the noop write,
``ml.workflow.run_*`` for the churn lifecycle, ``ChurnScorer.predict`` for
serving. Outputs are checked after the timed region.

The seed draws the serving payloads; the query workloads run their queries
in the listed order. ``--trace 1`` records spans and Spark counters and prints the
per-layer metrics; ``--trace 0`` prints the end-to-end metrics. The line
before the last gives every metric with its unit and sample count; the last
line is the result JSON. README.md explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import copy
import json
import math
import os
import random
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

# Set-up is timed from here; pyspark and the package are imported later.
_PROCESS_START = time.perf_counter()

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
CACHE_DIR = BENCH_DIR / ".cache"
TRACE_DIR = BENCH_DIR / "traces"

# The query workload runs two groups of oracle-backed queries, one query per
# operator module (named beside it), in this order in every pass.
QUERY_GROUPS = {
    # The reference pipeline's analytics: bound by scans, shuffles and
    # Catalyst, little work at build.
    "retail_olap": (
        "pricing_summary",  # aggregates
        "revenue_by_nation",  # joins
        "latest_order_per_customer",  # windows
        "sessionize",  # events
        "stickiness_ratio",  # engagement
        "class_weights",  # retention
        "threshold_curve",  # threshold
        "monthly_revenue",  # analytics
        "order_count_distribution",  # tpch_extra
        "q20_excess_stock",  # tpch_partsupp
        "cdc_multi_action_apply",  # upsert
    ),
    # The dedup, similarity, text and curation extensions: pins, pandas_udf
    # and the native edit-distance kernel, about half the warm wall at build.
    "retrieval_dedup": (
        "knn_bruteforce",  # similarity
        "ivf_knn",  # ivf
        "neardup_edit_verify",  # text, native kernel
        "dsir_importance_select",  # curation
        "crossmodal_retrieval_metrics",  # multimodal
    ),
}
WORKLOADS = ("queries", "churn_ml")
SF_CHOICES = ("0.01", "0.001")

MIN_WARM_PASSES = 1
# A traced run alternates untraced and traced warm passes (U T U), so that
# trace.overhead_s compares passes of about the same warmth.
TRACED_WARM_PASSES = 3
TAIL_BEYOND = 10  # a tail percentile needs this many samples beyond it

# churn_ml: a serving pass is this many single-record requests and 64-record
# batches, shuffled; warm-up requests run before timing starts.
SINGLES_PER_PASS = 8
BATCHES_PER_PASS = 3
BATCH_SIZE = 64
WARMUP_REQUESTS = 4
MANGLED_SHARE = 0.25  # payloads with a missing, unknown or non-numeric field
# Feature-table rows, and HEAD's test-split AUC with a band, per scale
# factor. The split sizes depend on the partitioning and so on the core
# count, so each split's share is checked against its weight within four
# binomial standard deviations; the row total is exact. The band is wide
# because the test split is small (215 rows at sf0.01) and the split moves
# with the core count.
CHURN_EXPECT = {
    "0.01": {"rows": 1496, "auc": 0.4495, "auc_band": 0.1},
    "0.001": {"rows": 150, "auc": 0.3719, "auc_band": 0.25},
}
SPLIT_WEIGHTS = {"train": 0.7, "val": 0.15, "test": 0.15}
# The trained model must be the optimum of the class-weighted log-loss on
# the train split. Its gradient there is about 5e-7 at HEAD; a model that
# was not fit (all coefficients 0) has about 0.03 at sf0.01.
MAX_LOSS_GRADIENT = 1e-4
# Spark's probabilities and AUC against the NumPy twin of the model.
PROB_TOL = 1e-9
AUC_TOL = 1e-6


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=SF_CHOICES, default="0.01")
    ap.add_argument(
        "--corrupt",
        action="store_true",
        help="test hook: alter checked results so that the checks must fail",
    )
    args = ap.parse_args(argv)

    work = Path(tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=_mkdir(BENCH_DIR / ".work")))
    try:
        cores = _prepare_env(work)
        run = Run(args, cores, work)
        try:
            run.execute()
        finally:
            run.shutdown()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail, result = run.report()
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


def _mkdir(path: Path) -> Path:
    path.mkdir(parents=True, exist_ok=True)
    return path


def _prepare_env(work: Path) -> int:
    """Keep every file the run writes inside the checkout, and let pandas_udf
    workers import the package (they fail with ModuleNotFoundError otherwise)."""
    cores = len(os.sched_getaffinity(0))
    tmp = _mkdir(work / "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=str(_mkdir(work / "spark-local")),
        TMPDIR=str(tmp),
        # lev_native compiles its kernel once into $XDG_CACHE_HOME/prp_lev.
        XDG_CACHE_HOME=str(_mkdir(CACHE_DIR / "xdg")),
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
    )
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(BENCH_DIR))
    return cores


class Run:
    """One workload in this process: set-up, cold phase, output check, warm
    closed loop, metrics."""

    def __init__(self, args, cores: int, work: Path):
        from spans import Tracer

        import __spark_entry__

        self.args = args
        self.cores = cores
        self.work = work
        # The other scales sit beside the sf0.001 tables the entry module names.
        self.sf_dir = os.path.join(os.path.dirname(__spark_entry__.SMOKE_SF_DIR), f"sf{args.sf}")
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(args.workload, enabled=bool(args.trace))
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.setup: dict | None = None
        self.cold: dict | None = None
        self.warm: list[dict] = []  # pass spans of the warm closed loop
        self.extra: dict = {}
        self.native = 0
        self.peak_rss_mb = 0.0

    # -- phases ---------------------------------------------------------
    def execute(self) -> None:
        self._setup()
        from pyspark_retention_pipeline_spark.operators.lev_native import get_kernel

        # Untimed: compiles the kernel on the first run in a checkout, so no
        # compiler call lands inside a measured op.
        self.native = int(get_kernel() is not None)
        if self.args.workload == "churn_ml":
            self._churn()
        else:
            self._queries()
        self.peak_rss_mb = _jvm_peak_rss_mb(self.spark)

    def _setup(self) -> None:
        """Process start until the session is ready and every table warm."""
        from pyspark_retention_pipeline_spark.session import get_spark
        from pyspark_retention_pipeline_spark.tables import TABLES, load_table

        rec = self.tracer.begin("setup", "setup", "bench", 0)
        rec["start"] = _PROCESS_START
        with self.tracer.span("get_spark", "session", "session", 0):
            self.spark = get_spark("perfbench", shuffle_partitions=self.cores)
        self.tracer.spark = self.spark
        with self.tracer.span("warm", "warm", "tables", 0):
            for name in TABLES:
                load_table(self.spark, self.sf_dir, name).write.format("noop").mode(
                    "overwrite"
                ).save()
        self.setup = self.tracer.end(rec)

    def _warm_loop(self, one_pass) -> None:
        traced = self.tracer.enabled
        passes = TRACED_WARM_PASSES if traced else MIN_WARM_PASSES
        deadline = time.perf_counter() + self.args.seconds
        p = 1
        while p <= passes or time.perf_counter() < deadline:
            self.tracer.enabled = traced and p % 2 == 0
            self.warm.append(one_pass(p))
            p += 1
        self.tracer.enabled = traced

    # -- query workloads --------------------------------------------------
    def _queries(self) -> None:
        from oracle import OracleDigests, digest

        from pyspark_retention_pipeline_spark.registry import all_oracle_sql, all_queries

        queries = all_queries()
        names = [(group, name) for group, members in QUERY_GROUPS.items() for name in members]

        def one_pass(p: int, keep: list | None = None) -> dict:
            # Every pass keeps the listed order: with the order permuted per
            # seed, the cold pass wall moved by a fifth and the warm pass
            # wall by a third between seeds.
            with self.tracer.span(f"pass{p}", "pass", "bench", p) as rec:
                for group, name in names:
                    df = self._call(queries[name], name, group, p)
                    if keep is not None and df is not None:
                        keep.append((name, df))
            return rec

        cold: list = []
        self.cold = one_pass(0, cold)
        oracle = OracleDigests(
            str(CACHE_DIR / "oracle_digests.json"), self.sf_dir, all_oracle_sql()
        )
        try:
            for i, (name, df) in enumerate(cold):
                try:
                    pdf = df.toPandas()
                    if self.args.corrupt and i == 0:
                        pdf = pdf.iloc[:-1] if len(pdf) else pdf.reindex([0])
                    got, want = digest(pdf), oracle.expected(name)
                except Exception:
                    traceback.print_exc()
                    got, want = "raised", "rows"
                if got != want:
                    self.failures.append(f"{name}: spark {got[:24]} != duckdb {want[:24]}")
        finally:
            oracle.close()
        del cold
        self._warm_loop(one_pass)

    def _call(self, fn, name: str, group: str, p: int):
        """One op: ``fn(spark, sf)`` then the noop write."""
        module = fn.__module__.rsplit(".", 1)[-1]
        self.attempted += 1
        op = self.tracer.begin(name, "call", "bench", p, module=module, group=group)
        try:
            with self.tracer.span(name, "build", f"operators.{module}", p, module=module, group=group):
                df = fn(self.spark, self.sf_dir)
            self.tracer.catalyst(df, p)
            with self.tracer.span(name, "write", "exec", p, module=module, group=group):
                df.write.format("noop").mode("overwrite").save()
            op["ok"] = True
            return df
        except Exception:
            traceback.print_exc()
            op["ok"] = False
            self.failures.append(f"{name} (pass {p}) raised")
            return None
        finally:
            self.tracer.end(op)

    # -- churn_ml -------------------------------------------------------
    def _churn(self) -> None:
        from pyspark_retention_pipeline_spark.ml import workflow
        from pyspark_retention_pipeline_spark.serving.api import ChurnScorer

        out_dir = tempfile.mkdtemp(prefix="churn-", dir=self.work)
        t = self.tracer
        with t.span("lifecycle", "pass", "bench", 0) as self.cold:
            with t.span("run_feature_etl", "etl", "ml.workflow", 0):
                counts = workflow.run_feature_etl(self.spark, self.sf_dir, out_dir)
            with t.span("run_training", "train", "ml.workflow", 0):
                workflow.run_training(self.spark, out_dir)
            with t.span("run_eval", "eval", "ml.workflow", 0):
                ev = workflow.run_eval(self.spark, out_dir)
        self.attempted += 3

        self.attempted += 1
        with t.span("load", "load", "serving.api", 0):
            scorer = ChurnScorer.load(self.spark, out_dir)
        twin = ChurnTwin(scorer.model)
        self._check_lifecycle(counts, ev, twin, out_dir)
        pool = self._payloads(out_dir, scorer.feature_cols)
        for i in range(WARMUP_REQUESTS):
            scorer.predict([pool[i % len(pool)]])
        scorer.predict(self.rng.choices(pool, k=BATCH_SIZE))

        pending: list[dict] = []
        restore = self._trace_score_records(pending) if self.args.trace else None
        singles: list[tuple[dict, dict]] = []

        def one_pass(p: int) -> dict:
            ops = [[r] for r in self.rng.choices(pool, k=SINGLES_PER_PASS)]
            ops += [self.rng.choices(pool, k=BATCH_SIZE) for _ in range(BATCHES_PER_PASS)]
            self.rng.shuffle(ops)
            with t.span(f"pass{p}", "pass", "serving.api", p) as rec:
                for records in ops:
                    out = self._predict(scorer, records, p, pending)
                    if out is not None and len(records) == 1:
                        singles.append((records[0], out[0]))
            return rec

        try:
            self._warm_loop(one_pass)
        finally:
            if restore:
                restore()
        self._check_predictions(scorer, twin, singles)
        shutil.rmtree(out_dir, ignore_errors=True)

    def _predict(self, scorer, records: list[dict], p: int, pending: list[dict]):
        self.attempted += 1
        kind = "single" if len(records) == 1 else "batch"
        op = self.tracer.begin("predict", "predict", "serving.api", p, kind=kind)
        try:
            out = scorer.predict(records)
        except Exception:
            traceback.print_exc()
            out = None
        finally:
            while pending:
                self.tracer.end(pending.pop())
            self.tracer.end(op)
        op["ok"] = out is not None and len(out) == len(records) and all(
            0.0 <= r["probability"] <= 1.0
            and r["prediction"] == float(r["probability"] >= scorer.threshold)
            for r in out
        )
        if not op["ok"]:
            self.failures.append(f"predict {kind} (pass {p}) failed")
        return out

    def _trace_score_records(self, pending: list[dict]):
        """Traced runs: split each predict into the build of its DataFrame
        (``ml.score_records``, which ``ChurnScorer.predict`` looks up per
        call) and the collect that writes its rows."""
        import pyspark_retention_pipeline_spark.ml as ml

        original = ml.score_records

        def score_records(*args, **kwargs):
            p = self.tracer.top()["pass"]
            with self.tracer.span("score_records", "build", "ml.pipeline", p):
                df = original(*args, **kwargs)
            self.tracer.catalyst(df, p)
            pending.append(self.tracer.begin("collect", "write", "exec", p))
            return df

        ml.score_records = score_records
        return lambda: setattr(ml, "score_records", original)

    def _payloads(self, out_dir: str, feature_cols: list[str]) -> list[dict]:
        """Test-split records as request payloads; a seeded share gets a
        missing, an unknown or a non-numeric field (the coercion path)."""
        import pandas as pd

        test = pd.read_parquet(os.path.join(out_dir, "test"), columns=feature_cols)
        pool = []
        for row in test.itertuples(index=False):
            rec = {c: float(v) for c, v in zip(feature_cols, row)}
            if self.rng.random() < MANGLED_SHARE:
                col = self.rng.choice(feature_cols)
                kind = self.rng.randrange(3)
                if kind == 0:
                    del rec[col]
                elif kind == 1:
                    rec["unknown_feature"] = self.rng.random()
                else:
                    rec[col] = "n/a"
            pool.append(rec)
        return pool

    def _check_lifecycle(self, counts: dict, ev: dict, twin, out_dir: str) -> None:
        """Split counts, the trained model against the optimum of its loss,
        and the test AUC against the NumPy twin and HEAD's value."""
        import pandas as pd

        expect = CHURN_EXPECT[self.args.sf]
        total = sum(counts.values())
        if total != expect["rows"] or any(
            abs(counts.get(k, 0) / total - w) > 4 * math.sqrt(w * (1 - w) / total)
            for k, w in SPLIT_WEIGHTS.items()
        ):
            self.failures.append(f"run_feature_etl split counts {counts} (want {expect['rows']} rows)")
        cols = [*twin.cols, "label"]
        train = pd.read_parquet(os.path.join(out_dir, "train"), columns=cols)
        fitted = copy.copy(twin)
        if self.args.corrupt:
            fitted.coef = twin.coef * 0.0  # a model that was not fit
        grad = fitted.loss_gradient(train[twin.cols].to_numpy(float), train["label"].to_numpy())
        if not grad <= MAX_LOSS_GRADIENT:
            self.failures.append(f"run_training: weighted log-loss gradient {grad:.3g} > {MAX_LOSS_GRADIENT}")
        test = pd.read_parquet(os.path.join(out_dir, "test"), columns=cols)
        auc = ev.get("areaUnderROC", float("nan"))
        want = _auc(test["label"].to_numpy(), twin.probability(test[twin.cols].to_numpy(float)))
        if not abs(auc - want) <= AUC_TOL:
            self.failures.append(f"run_eval areaUnderROC {auc} != NumPy twin {want}")
        if not abs(auc - expect["auc"]) <= expect["auc_band"]:
            self.failures.append(f"run_eval areaUnderROC {auc} outside {expect['auc']}±{expect['auc_band']}")
        self.extra["split_counts"] = counts
        self.extra["auc"] = auc
        self.extra["loss_gradient"] = grad

    def _check_predictions(self, scorer, twin, singles: list[tuple[dict, dict]]) -> None:
        """Single-record and batch predict of the same records against the
        NumPy twin (untimed)."""
        if not singles:
            self.failures.append("no single-record predict succeeded")
            return
        records = [rec for rec, _ in singles]
        batch = scorer.predict(records)
        if self.args.corrupt:
            batch[0] = {**batch[0], "probability": batch[0]["probability"] + 1e-3}
        want = twin.probability(twin.coerce(records))
        bad = sum(
            1
            for (_, one), many, p in zip(singles, batch, want)
            for out in (one, many)
            if abs(out["probability"] - p) > PROB_TOL
            or out["prediction"] != float(p >= scorer.threshold)
        )
        if bad or len(batch) != len(singles):
            self.failures.append(f"predict disagrees with the NumPy twin on {bad} of {2 * len(singles)} outputs")

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- metrics ----------------------------------------------------------
    def report(self) -> tuple[dict, dict]:
        from spans import duration, metric

        warm_untraced = [r for r in self.warm if not r["traced"]]
        ops = [
            r
            for r in self.tracer.spans
            if r["phase"] in ("call", "predict") and r["pass"] > 0 and not r["traced"] and r.get("ok")
        ]
        lat = [duration(r) for r in ops]
        metrics = {
            "setup_s": metric(duration(self.setup), "s", 1),
            "cold_wall_s": metric(duration(self.cold), "s", 1),
            "wall_s": metric(statistics.median(duration(r) for r in warm_untraced), "s", len(warm_untraced)),
        }
        detail_metrics = dict(metrics)
        detail_metrics["op_p50_s"] = metric(statistics.median(lat), "s", len(lat))
        detail_metrics["op_tail_s"] = _tail(lat)
        if self.args.workload == "churn_ml":
            for kind in ("single", "batch"):
                kl = [duration(r) for r in ops if r["kind"] == kind]
                detail_metrics[f"predict_{kind}_p50_s"] = metric(statistics.median(kl), "s", len(kl))
            detail_metrics["predict_single_tail_s"] = _tail(
                [duration(r) for r in ops if r["kind"] == "single"]
            )
        failed = min(len(self.failures), self.attempted)
        detail_metrics["error_rate"] = metric(failed / max(self.attempted, 1), "ratio", self.attempted)
        detail = {
            "detail": {
                "workload": self.args.workload,
                "seed": self.args.seed,
                "sf": self.args.sf,
                "cores": self.cores,
                "trace": self.args.trace,
                "metrics": detail_metrics,
                "failures": self.failures,
                **self.extra,
            }
        }
        if self.args.trace:
            from spans import layer_metrics

            out_metrics = layer_metrics(self.tracer.spans)
            out_metrics["session.jvm_peak_rss_mb"] = metric(self.peak_rss_mb, "MB", 1)
            out_metrics["lev_native.native"] = metric(self.native, "flag", 1)
            self._write_trace(out_metrics)
            detail["detail"]["per_layer"] = out_metrics
        else:
            out_metrics = metrics
        result = {
            "correct": not self.failures,
            "attempted": max(self.attempted, 1),
            "failed": failed,
            "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in out_metrics.items()},
        }
        return detail, result

    def _write_trace(self, layers: dict) -> None:
        from spans import layer_details, layer_self_times

        path = _mkdir(TRACE_DIR) / f"{self.args.workload}-seed{self.args.seed}.json"
        doc = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "sf": self.args.sf,
            "cores": self.cores,
            "layers": layers,
            "details": layer_details(self.tracer.spans),
            "self_times": layer_self_times(self.tracer.spans),
            "spans": self.tracer.spans,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)


class ChurnTwin:
    """NumPy twin of a fitted churn pipeline, read from the model's own
    stages: mean imputation, standard scaling, logistic regression."""

    def __init__(self, model):
        import numpy as np
        from pyspark.ml.classification import LogisticRegressionModel
        from pyspark.ml.feature import ImputerModel, StandardScalerModel, VectorAssembler

        def stage(kind):
            return next(s for s in model.stages if isinstance(s, kind))

        self.cols = [c.removesuffix("_imp") for c in stage(VectorAssembler).getInputCols()]
        surrogate = stage(ImputerModel).surrogateDF.first().asDict()
        self.fill = np.array([surrogate[c] for c in self.cols])
        scaler = stage(StandardScalerModel)
        self.mean, self.std = scaler.mean.toArray(), scaler.std.toArray()
        lr = stage(LogisticRegressionModel)
        self.coef, self.intercept = lr.coefficients.toArray(), lr.intercept

    def coerce(self, records: list[dict]):
        """Serving's payload rule: missing or non-numeric -> 0.0, unknown dropped."""
        import numpy as np

        def num(v) -> float:
            try:
                return float(v)
            except (TypeError, ValueError):
                return 0.0

        return np.array([[num(r.get(c, 0.0)) for c in self.cols] for r in records])

    def _scaled(self, x):
        import numpy as np

        x = np.where(np.isnan(x), self.fill, x)
        return np.divide(x - self.mean, self.std, out=np.zeros_like(x), where=self.std > 0)

    def probability(self, x):
        import numpy as np

        return 1.0 / (1.0 + np.exp(-(self._scaled(x) @ self.coef + self.intercept)))

    def loss_gradient(self, x, y) -> float:
        """Largest component of the gradient of the class-weighted mean
        log-loss (positives weigh n_neg/n_pos, as in training)."""
        import numpy as np

        w = np.where(y == 1, (y == 0).sum() / max((y == 1).sum(), 1), 1.0)
        design = np.c_[self._scaled(x), np.ones(len(y))]
        return float(np.abs((w * (self.probability(x) - y)) @ design / w.sum()).max())


def _auc(y, p) -> float:
    """Area under the ROC curve: the share of (positive, negative) pairs
    ranked right, ties counting half."""
    d = p[y == 1][:, None] - p[y == 0][None, :]
    return float(((d > 0).sum() + 0.5 * (d == 0).sum()) / d.size)


def _tail(lat: list[float]) -> dict:
    """The highest percentile with at least TAIL_BEYOND samples beyond it."""
    n = len(lat)
    pct = math.floor(100 * (n - TAIL_BEYOND) / n) if n else 0
    if pct < 50:
        return {"value": None, "unit": "s", "n": n, "percentile": None}
    value = statistics.quantiles(lat, n=100, method="inclusive")[pct - 1]
    return {"value": value, "unit": "s", "n": n, "percentile": pct}


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


if __name__ == "__main__":
    sys.exit(main())
