"""One run of one benchmark workload, in a fresh process.

Started by ``run.py`` (which builds the seeded inputs first); see
README.md. Closed loop: one client runs sequential passes over a fixed
input with engine defaults at ``local[4]``. Untraced runs print the
end-to-end metrics; traced runs (``--trace 1``) time the benchmark's
own calls into each module and print the per-layer ledger.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import host  # noqa: E402
from ledger import Tracer, format_ledger  # noqa: E402

MASTER = "local[4]"
SAMPLE_ROWS = 2000   # output rows compared against the loop oracle
KERNEL_ROWS = 8192   # cap on the in-process kernel batch (traced runs)
JOB_PARTITIONS = 32  # run_extraction_job's default num_partitions
WARM_PASSES = 1      # untimed passes before timing
MIN_PASSES = 3       # timed passes, even when --seconds runs out first

END_TO_END = {"setup_s": "s", "turns_per_s": "turns/s", "python_rss_mb": "MB"}

PER_LAYER = {
    "session.build_s": "s",
    "sources.scan_s": "s",
    "sources.scan_partitions": "count",
    "partitioning.exchange_s": "s",
    "partitioning.exchange_taken": "count",
    "extract.stage_s": "s",
    "extract.boundary_s": "s",
    "extract.boundary_text_only_s": "s",
    "extract.kernel_s": "s",
    "extract.python_nodes": "count",
    "kernels.detect_s": "s",
    "kernels.decode_s": "s",
    "kernels.reflow_s": "s",
    "kernels.html_strip_s": "s",
    "kernels.html_strip_p50_us": "us",
    "kernels.html_strip_p99_us": "us",
    "kernels.batch_s": "s",
    "kernels.batch_nodedup_s": "s",
    "kernels.worker_body_s": "s",
    "kernels.unique_ratio": "ratio",
    "kernels.parse_failed_rows": "count",
    "pipeline.job_s": "s",
    "pipeline.extract_write_s": "s",
    "pipeline.commit_overhead_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.output_bytes": "bytes",
    "pipeline.resume_s": "s",
    "pipeline.write_amplification": "ratio",
    "manifest.committed_scan_s": "s",
    "trace.overhead_pct": "%",
}

def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def force(df) -> tuple[int, int]:
    """Evaluate every output column: row count plus an xor-fold of a
    hash over all columns (order independent, defeats column pruning)."""
    from pyspark.sql import functions as F

    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("d"),
    ).collect()[0]
    return int(r["n"]), int(r["d"] or 0)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def plan_string(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@contextmanager
def job_group(spark, counts: dict, key: str):
    """Count the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"perfbench-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, key)
    try:
        yield
    finally:
        counts[key] = len(sc.statusTracker().getJobIdsForGroup(group))


def build_session(cache: str):
    from pdfextraction_spark.session import build_session as _build

    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # heap sizing stays the engine's; only scratch paths are redirected
    spark = _build("perfbench", master=MASTER, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _identity(it):
    yield from it


class Check:
    """Tally of attempted and failed operations."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


# --------------------------------------------------------------------------
# extraction workloads


class Extract:
    """extract_pooled / extract_unique: ``extract_dataframe`` over a
    many-file transcripts table. One pass = one forced transform.

    Traced runs also drive ``run_extraction_job`` over the same input,
    so the pipeline and manifest layers are measured on both
    workloads."""

    def __init__(self, spark, inputs_dir: str, info: dict, cache: str):
        from pdfextraction_spark.sources.transcripts import read_transcripts

        self.spark = spark
        self.path = os.path.join(inputs_dir, "transcripts")
        self.n = info["turns"]
        self.turns = read_transcripts(spark, self.path)
        self.input_bytes = dir_bytes(self.path)
        self.work = os.path.join(cache, "work", uuid.uuid4().hex[:12])
        self.k = 0
        self.ref = None
        self.amp: list[float] = []

    def output(self):
        from pdfextraction_spark.pipeline import extract_dataframe

        return extract_dataframe(self.turns)

    def run_pass(self, check: Check) -> float:
        t0 = time.perf_counter()
        rows, digest = force(self.output())
        wall = time.perf_counter() - t0
        self._check_output(check, rows, digest)
        return wall

    def _check_output(self, check: Check, rows: int, digest: int) -> None:
        if self.ref is None:
            self.ref = digest
        check.record(rows == self.n and digest == self.ref,
                     f"pass output rows={rows} digest={digest}")

    def sample_frames(self):
        """(input sample, output sample) for the oracle comparison."""
        from pyspark.sql import functions as F

        mod = max(1, self.n // SAMPLE_ROWS)
        cond = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(mod)) == 0
        return self.turns.filter(cond), self.output().filter(cond)

    def oracle_check(self, check: Check) -> dict:
        from pdfextraction_spark.oracle.extract import extract_turn

        inp, out = self.sample_frames()
        texts = {(r.conv_id, r.turn_idx): r.text
                 for r in inp.select("conv_id", "turn_idx", "text").collect()}
        bad = 0
        got_rows = out.collect()
        for r in got_rows:
            kind, text, spans, kept, dropped, failed = extract_turn(
                texts.get((r.conv_id, r.turn_idx)))
            got = (r.payload_kind, r.extracted_text,
                   [(s.label, s.start, s.end) for s in r.spans],
                   r.blocks_kept, r.blocks_dropped, r.parse_failed)
            if got != (kind, text, list(spans), kept, dropped, failed):
                bad += 1
        ok = bad == 0 and len(got_rows) == len(texts) > 0
        check.record(ok, f"oracle sample: {bad}/{len(got_rows)} rows differ")
        return {"oracle_sample_rows": len(got_rows), "oracle_mismatch": bad}

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    # ---- the resumable job -------------------------------------------

    def _dirs(self) -> tuple[str, str, str]:
        self.k += 1
        base = os.path.join(self.work, f"pass-{self.k:03d}")
        return base, os.path.join(base, "out"), os.path.join(base, "manifest")

    def _job(self, out: str, mf: str) -> dict:
        from pdfextraction_spark.pipeline import run_extraction_job

        return run_extraction_job(self.spark, self.path, out, mf)

    def _check_job(self, check, base, out, mf, summary, again) -> None:
        """The job's committed output must equal the transform's output
        (same digest), its manifest must cover every input row, and the
        resume call must find nothing to do."""
        from pyspark.sql import functions as F

        self.amp.append((dir_bytes(out) + dir_bytes(mf)) / self.input_bytes)
        committed = self.spark.read.parquet(mf).select(
            F.sum("row_count")).collect()[0][0]
        cols = self.output().columns
        rows, digest = force(self.spark.read.parquet(out).select(*cols))
        if self.ref is None:
            self.ref = digest
        check.record(
            rows == self.n and digest == self.ref and committed == self.n
            and summary["rows_written"] == self.n
            and again["partitions_processed"] == 0,
            f"job rows={rows} committed={committed} "
            f"resume processed={again['partitions_processed']}")
        shutil.rmtree(base)

    # ---- traced run --------------------------------------------------

    def trace_setup(self, tr: Tracer) -> None:
        import pyarrow.parquet as pq

        from pdfextraction_spark.kernels.extract import extract_batch_flat

        first = sorted(os.listdir(self.path))[0]
        self.kernel_table = pq.read_table(
            os.path.join(self.path, first)).slice(0, KERNEL_ROWS)
        # untimed: module imports and regex compiles of the kernels
        extract_batch_flat(self.kernel_table.column("text").to_pandas())
        plan = plan_string(self.output())
        self.layer = {
            "sources.scan_partitions": self.turns.rdd.getNumPartitions(),
            "partitioning.exchange_taken": int("Exchange" in plan),
            "extract.python_nodes": sum(
                plan.count(k) for k in ("MapInArrow", "ArrowEvalPython")),
        }
        self.plain: list[float] = []
        self.html_us: list[float] = []
        self.job_counts: dict = {}

    def trace_iteration(self, tr: Tracer, check: Check) -> None:
        from pdfextraction_spark.operators.partitioning import (
            prepare_for_extraction,
        )
        from pdfextraction_spark.sources.transcripts import read_transcripts

        with tr.span("pass"):
            with tr.span("sources.scan"):
                force(read_transcripts(self.spark, self.path))
            # identity Python stages: the JVM<->Python Arrow boundary
            # alone, over the 5 columns the extract stage ships and
            # over text only
            five = self.turns.select("conv_id", "turn_idx", "role", "ts",
                                     "text")
            with tr.span("extract.boundary"):
                force(five.mapInArrow(_identity, five.schema))
            text = self.turns.select("text")
            with tr.span("extract.boundary_text_only"):
                force(text.mapInArrow(_identity, text.schema))
            # the salted exchange the job always pays (and the
            # transform pays when the dial takes the shuffle)
            with tr.span("partitioning.exchange"):
                force(prepare_for_extraction(self.turns))
            with tr.span("extract.stage"):
                rows, digest = force(self.output())
            self._check_output(check, rows, digest)
            self._trace_job(tr, check)
        self.plain.append(self.run_pass(check))
        self._kernels(tr)

    def _trace_job(self, tr: Tracer, check: Check) -> None:
        from pdfextraction_spark.operators.extract import extract_turns
        from pdfextraction_spark.operators.partitioning import (
            logical_partition_id,
            prepare_for_extraction,
        )
        from pdfextraction_spark.sources.manifest import (
            committed_partitions,
            snapshot_id_for_path,
        )

        base, out, mf = self._dirs()
        with job_group(self.spark, self.job_counts, "job"):
            with tr.span("pipeline.job"):
                summary = self._job(out, mf)
        with tr.span("pipeline.resume"):
            again = self._job(out, mf)
        with tr.span("manifest.committed_scan"):
            committed_partitions(self.spark, mf,
                                 snapshot_id_for_path(self.path))
        # the job's plan without its commit protocol: one direct write
        with tr.span("pipeline.extract_write"):
            prepared = prepare_for_extraction(
                logical_partition_id(self.turns, JOB_PARTITIONS),
                JOB_PARTITIONS)
            logical_partition_id(extract_turns(prepared), JOB_PARTITIONS
                                 ).write.parquet(os.path.join(base, "direct"))
        self.layer["pipeline.output_bytes"] = dir_bytes(out)
        self.layer["pipeline.spark_jobs"] = self.job_counts["job"]
        self._check_job(check, base, out, mf, summary, again)

    def _kernels(self, tr: Tracer) -> None:
        """The worker-side kernels run in-process on one input file's
        Arrow batch (the batch one Python worker gets for one task)."""
        import numpy as np
        import pandas as pd

        from pdfextraction_spark.kernels.extract import (
            _decode_envelopes_flat,
            detect_kinds,
            extract_batch_flat,
        )
        from pdfextraction_spark.kernels.htmlstrip import strip_html_doc
        from pdfextraction_spark.kernels.layout import reflow_flat
        from pdfextraction_spark.operators.extract import _make_extract_fn
        from pdfextraction_spark.payload import KIND_HTML, KIND_PDF

        batches = self.kernel_table.select(
            ["conv_id", "turn_idx", "role", "ts", "text"]).to_batches()
        texts = self.kernel_table.column("text").to_pandas()
        with tr.span("kernels"):
            with tr.span("kernels.batch"):
                res = extract_batch_flat(texts)
            with tr.span("kernels.batch_nodedup"):
                extract_batch_flat(texts, dedup=False)
            with tr.span("kernels.worker_body"):
                for _ in _make_extract_fn(True)(iter(batches)):
                    pass
            # sub-stages over the unique payloads, as the dedup path
            # feeds them to the kernels
            _, uniq = pd.factorize(texts.fillna("").to_numpy(object))
            u = pd.Series(uniq, dtype=object)
            with tr.span("kernels.detect"):
                kinds = detect_kinds(u)
            pdf = [u[i] for i in np.flatnonzero(kinds == KIND_PDF)]
            with tr.span("kernels.decode"):
                sizes, t_arr, coord, failed = _decode_envelopes_flat(pdf)
            with tr.span("kernels.reflow"):
                reflow_flat(len(pdf), sizes, t_arr, coord, failed)
            html = [u[i] for i in np.flatnonzero(kinds == KIND_HTML)]
            with tr.span("kernels.html_strip"):
                for doc in html:
                    t0 = time.perf_counter()
                    strip_html_doc(doc)
                    self.html_us.append((time.perf_counter() - t0) * 1e6)
        self.layer["kernels.unique_ratio"] = len(uniq) / max(len(texts), 1)
        self.layer["kernels.parse_failed_rows"] = int(res.failed.sum())

    def layer_metrics(self, tr: Tracer) -> dict:
        import numpy as np

        def med(name):
            return median(tr.walls(name))

        scan = med("sources.scan")
        exchange = med("partitioning.exchange") - scan
        stage = med("extract.stage")
        job = med("pipeline.job")
        direct = med("pipeline.extract_write")
        out = dict(self.layer)
        out.update({
            "session.build_s": med("session.build"),
            "sources.scan_s": scan,
            "partitioning.exchange_s": exchange,
            "extract.stage_s": stage,
            "extract.boundary_s": med("extract.boundary") - scan,
            "extract.boundary_text_only_s":
                med("extract.boundary_text_only") - scan,
            "extract.kernel_s": stage - med("extract.boundary")
                - exchange * self.layer["partitioning.exchange_taken"],
            "pipeline.job_s": job,
            "pipeline.extract_write_s": direct,
            "pipeline.commit_overhead_s": job - direct,
            "pipeline.resume_s": med("pipeline.resume"),
            "pipeline.write_amplification": median(self.amp),
            "manifest.committed_scan_s": med("manifest.committed_scan"),
            "trace.overhead_pct": 100.0 * (stage / median(self.plain) - 1.0),
            "kernels.html_strip_p50_us": float(
                np.percentile(self.html_us, 50)) if self.html_us else 0.0,
            "kernels.html_strip_p99_us": float(
                np.percentile(self.html_us, 99)) if self.html_us else 0.0,
        })
        for k in ("detect", "decode", "reflow", "html_strip", "batch",
                  "batch_nodedup", "worker_body"):
            out[f"kernels.{k}_s"] = med(f"kernels.{k}")
        return out


WORKLOADS = ("extract_pooled", "extract_unique")


def metric_units(trace: bool) -> dict:
    return PER_LAYER if trace else END_TO_END


# --------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--started", type=float, required=True,
                    help="wall-clock time this process was launched")
    args = ap.parse_args()

    load_before = host.loadavg()
    with open(os.path.join(args.inputs, "inputs.json")) as f:
        info = json.load(f)
    tr = Tracer(uuid.uuid4().hex[:12]) if args.trace else None
    check = Check()

    with tr.span("session.build") if tr else nullcontext():
        spark = build_session(args.cache)
    wl = Extract(spark, args.inputs, info, args.cache)
    try:
        if tr:
            wl.trace_setup(tr)
        for _ in range(WARM_PASSES):  # untimed
            wl.run_pass(check)
        setup_s = time.time() - args.started

        walls: list[float] = []
        python_rss: list[int] = []  # peak RSS of each timed pass
        jvm_rss: list[int] = []
        passes = 0
        jiffies = host.cpu_times()
        t_end = time.perf_counter() + args.seconds
        # never start a pass expected to end past this (a traced
        # iteration takes 30-60 s, so a traced run keeps to the window)
        t_cap = t_end if tr else t_end + args.seconds
        min_passes = 1 if tr else MIN_PASSES
        with host.RssSampler() as rss:
            last = 0.0
            while time.perf_counter() < t_end or passes < min_passes:
                if passes >= min_passes and time.perf_counter() + last > t_cap:
                    break
                passes += 1
                rss.take_peak()
                t0 = time.perf_counter()
                try:
                    if tr:
                        wl.trace_iteration(tr, check)
                    else:
                        walls.append(wl.run_pass(check))
                        py, jvm = rss.take_peak()
                        python_rss.append(py)
                        jvm_rss.append(jvm)
                except Exception:  # noqa: BLE001 - a failed pass is counted
                    traceback.print_exc()
                    check.record(False, "pass raised")
                last = time.perf_counter() - t0
        steal = host.steal_pct(jiffies, host.cpu_times())
        load_after = host.loadavg()
        checks = wl.oracle_check(check)

        if tr:
            metrics = wl.layer_metrics(tr)
        else:
            metrics = {"setup_s": setup_s,
                       "turns_per_s": info["turns"] / median(walls),
                       "python_rss_mb": median(python_rss) / 2**20}
        record = host.host_record(ROOT, spark, load_before)
        record["loadavg_after_passes"] = load_after
        record["cpu_steal_pct_during_passes"] = steal
    finally:
        wl.close()
        spark.stop()

    result = {
        "correct": check.failed == 0,
        "attempted": check.attempted,
        "failed": check.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in metric_units(bool(args.trace)).items()},
    }
    report = {
        "workload": args.workload, "inputs": info, "trace": args.trace,
        "passes": passes, "pass_walls_s": walls,
        "pass_python_rss_mb": [b / 2**20 for b in python_rss],
        "pass_jvm_rss_mb": [b / 2**20 for b in jvm_rss],
        "error_rate": check.failed / max(check.attempted, 1),
        "check_failures": check.notes, "checks": checks,
        "setup_s": setup_s, "host": record,
    }
    if tr:
        ledger = tr.ledger()
        print(format_ledger(ledger))
        trace_path = args.out[:-len(".json")] + ".trace.json"
        tr.write(trace_path, {"report": report})
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
    print(json.dumps({"report": report}))
    with open(args.out, "w") as f:
        json.dump({"result": result, "report": report}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
