"""Repository benchmark: drives the CLI in-process on a ``local[nproc]``
session, checks every output and prints one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client: each operation starts after the
previous one returned):

* ``ingest`` -- ``warc-ingest <cdx glob> <warc dir> <out> <metrics>
  --plain-parquet`` over one generated WARC dump.  Warm-up: one op over
  the same dump; then at least one timed op.
* ``table_scan`` -- one pass of ``scan-file <table> --output <report>``
  over each generated table.  Warm-up: one untimed pass; then at least
  one timed pass; then one golden-fixture check.

Inputs are generated from ``--seed`` during set-up and written under
``.perfbench/`` in the checkout; the program only sees those files.
Timed ops continue while less than ``--seconds`` have passed.  An
operation that raises or fails a correctness check counts as failed.

With ``--trace 0`` the last line carries the end-to-end metrics.  With
``--trace 1`` one op under spans and then one untraced op run after the
warm-up, and the last line carries the per-layer metrics.  The line
before the last is a report with every metric, each op's time and the
environment (nproc, RAM, CPU steal, library versions).  Spans of a
traced run are written to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent
WORK_ROOT = ROOT / ".perfbench"

#: pages in the generated WARC dump
INGEST_PAGES = 200
#: WARC/CDXJ shard files; one CDXJ file is one input partition
INGEST_SHARDS = 4
#: a traced ingest run starts the 1-core arm only this soon after
#: start (the arm takes about 70 s on 4 vCPU), so the run ends within
#: its time limit
ARM_START_LIMIT_S = 95
#: every run ends within this many seconds of its start
RUN_LIMIT_S = 165
#: set-up repetitions whose median is ``setup_s``'s generation part
SETUP_REPS = 3

E2E_UNITS = {"op_s_p50": "s", "setup_s": "s"}
LAYER_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_s": "s", "spark.task_s": "s", "spark.busy_frac": "ratio",
    "spark.gc_s": "s",
    "py.start_s": "s", "py.run_s": "s",
    "py.bytes_in": "B", "py.bytes_out": "B", "py.rows_in": "count",
    "shuffle.bytes_w": "B", "shuffle.write_s": "s",
    "shuffle.fetch_wait_s": "s", "spill.bytes": "B",
    "scan.bytes_r": "B", "write.bytes": "B", "write.files": "count",
    "warc.fetch_s": "s", "warc.body_mb": "MB", "html.extract_s": "s",
    "langid.s": "s", "perplexity.s": "s", "quality.s": "s", "scrub.s": "s",
    "scrub.spans": "count", "pipeline.noop_s": "s",
    "pipeline.plan_s": "s", "pipeline.passes": "ratio",
    "resume.write_s": "s", "scaling_eff": "ratio",
    "sources.read_s": "s", "analyzer.stats_s": "s", "matcher.match_s": "s",
    "scanner.report_s": "s", "rules.pack_load_s": "s",
    "trace.overhead_s": "s", "ledger.residual_s": "s",
    "ledger.residual_frac": "ratio", "jvm_peak_rss_mb": "MiB",
}


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate CPU line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def pin_env(work: Path) -> None:
    """Environment the program reads at session start; set before the
    JVM launches."""
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # local mode: the driver JVM is the executor; the program's 24g
    # default does not fit a small box
    gib = max(2, min(8, int(mem_total_gib() // 4)))
    os.environ["SPARK_DRIVER_MEM"] = f"{gib}g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM (launcher and driver) keeps its temp files in the work
    # dir; no hsperfdata files under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    # Python workers must import metacrafter_spark from this checkout
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = (str(ROOT) if not prev
                                else f"{ROOT}{os.pathsep}{prev}")
    os.environ.pop("SPARK_MASTER", None)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(cores: int):
    from metacrafter_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing for the JVM")


def run_cli(argv: list[str]) -> tuple[int, str]:
    """``cli.main(argv)`` with its stdout captured."""
    from metacrafter_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    return rc, buf.getvalue()


def file_bytes(path: Path) -> int:
    """Bytes of the data files under ``path`` (no checksums/markers)."""
    return sum(p.stat().st_size for p in path.rglob("*")
               if p.is_file() and not p.name.startswith((".", "_")))


class Failures:
    """Per-operation failure ledger; every failure is kept."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, op: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.reasons.extend(f"{op}: {p}" for p in problems[:5])


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

class Ingest:
    #: fewest timed ops per untraced run
    min_ops = 1

    def __init__(self, spark, work: Path, seed: int, fails: Failures):
        self.spark, self.work, self.seed, self.fails = spark, work, seed, fails
        self.digest: dict | None = None
        self.out_bytes: list[float] = []
        self.pii_spans: list[int] = []
        # wraps each CLI call; a traced run swaps in a span
        self.timer = contextlib.nullcontext

    @staticmethod
    def generate(work: Path, seed: int) -> dict:
        import gen

        if (work / "dump").exists():
            shutil.rmtree(work / "dump")
        return gen.write_dump(gen.pages(seed, INGEST_PAGES),
                              str(work / "dump"), seed, INGEST_SHARDS)

    def setup(self, man: dict) -> None:
        self.man = man

    def warmup(self) -> None:
        """One op over the measured dump (cold JVM and Python workers),
        checked like any other; its digest is the one later ops must
        match.  An op over a smaller dump leaves the first timed op a
        fifth slower than the second."""
        self.op(0)
        self.out_bytes.clear()
        self.pii_spans.clear()

    def argv(self, out: Path, met: Path) -> list[str]:
        return ["warc-ingest", self.man["cdx_glob"], self.man["warc_dir"],
                str(out), str(met), "--plain-parquet"]

    def finish(self) -> None:
        """Untimed checks after the timed ops."""

    def op(self, i: int) -> float:
        """One timed operation; returns its wall seconds."""
        out, met = self.work / f"op{i}" / "out", self.work / f"op{i}" / "met"
        problems: list[str] = []
        t0 = time.perf_counter()
        try:
            with self.timer():
                rc, stdout = run_cli(self.argv(out, met))
        except Exception:
            rc, stdout = -1, ""
            problems.append("raised " + traceback.format_exc(limit=3))
        dt = time.perf_counter() - t0
        if rc != 0 and not problems:
            problems.append(f"exit code {rc}")
        if not problems:
            try:
                problems += self.check(out, met, stdout)
            except Exception:
                problems.append("check raised "
                                + traceback.format_exc(limit=3))
        self.fails.record(f"ingest op {i}", problems)
        shutil.rmtree(self.work / f"op{i}", ignore_errors=True)
        return dt

    def check(self, out: Path, met: Path, stdout: str) -> list[str]:
        """Rows = pages, no planted PII survives, and the per-url
        decision digest equals every other op's."""
        digest, spans, problems = output_digest(out, self.man)
        self.pii_spans.append(spans)
        summary = json.loads(stdout.strip().splitlines()[-1])
        if summary.get("processed") != self.man["pages"]:
            problems.append(f"processed {summary.get('processed')} "
                            f"!= {self.man['pages']} pages")
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            diff = sum(1 for u in self.digest if digest.get(u) !=
                       self.digest[u])
            problems.append(f"{diff} urls differ from the first op")
        self.out_bytes.append((file_bytes(out) + file_bytes(met))
                              / self.man["pages"])
        return problems


def output_digest(out: Path, man: dict) -> tuple[dict, int, list[str]]:
    """url → sha256 of (keep, drop_reason, sha256(text_scrubbed)), the
    PII spans scrubbed, and the problems found reading the output."""
    import pyarrow.dataset as ds

    t = ds.dataset(str(out), format="parquet", partitioning="hive") \
        .to_table(columns=["url", "keep", "drop_reason", "text_scrubbed",
                          "pii_total"])
    rows = t.to_pylist()
    problems = []
    if len(rows) != man["pages"]:
        problems.append(f"{len(rows)} rows written for "
                        f"{man['pages']} pages")
    digest, leaked = {}, 0
    for r in rows:
        scrubbed = r["text_scrubbed"] or ""
        leaked += sum(1 for s in man["pii"].get(r["url"], ())
                      if s in scrubbed)
        digest[r["url"]] = hashlib.sha256(json.dumps(
            [r["keep"], r["drop_reason"],
             hashlib.sha256(scrubbed.encode()).hexdigest()]
        ).encode()).hexdigest()
    if leaked:
        problems.append(f"{leaked} planted PII strings survive scrubbing")
    if len(digest) != len(rows):
        problems.append("duplicate urls in the output")
    return digest, sum(r["pii_total"] or 0 for r in rows), problems


# ---------------------------------------------------------------------------
# table_scan
# ---------------------------------------------------------------------------

#: golden fixtures whose parameters the CLI can express
GOLDEN_ARGS = {
    "tiny2col": ["--limit", "1000"],
    "pii_profiles_200": ["--limit", "1000"],
    "pii_profiles_limit50": ["--limit", "50"],
    "pii_profiles_pii_ctx": ["--limit", "1000", "--contexts", "pii,common"],
    "edge_cases_120": ["--limit", "1000"],
    "rule_zoo_fields": ["--limit", "1000"],
    "rule_zoo_data": ["--limit", "1000"],
}


def golden_items(name: str, fx):
    return {
        "tiny2col": lambda: fx.tiny2col(),
        "pii_profiles_200": lambda: fx.pii_profiles(200),
        "pii_profiles_limit50": lambda: fx.pii_profiles(200),
        "pii_profiles_pii_ctx": lambda: fx.pii_profiles(120),
        "edge_cases_120": lambda: fx.edge_cases(120),
        "rule_zoo_fields": lambda: fx.rule_zoo_fields(12),
        "rule_zoo_data": lambda: fx.rule_zoo_data(30),
    }[name]()


def golden_problems(report: dict, golden: dict) -> list[str]:
    """Differences between a scan report and a committed golden entry
    (same comparison as the golden-label tests)."""
    problems = []
    ours = {rec["field"]: rec["matches"] for rec in report["data"]}
    ref = {f: m for f, m in golden["columns"].items()
           if f in golden["stats"]}
    if set(ours) != set(ref):
        return [f"fields {sorted(set(ours) ^ set(ref))} differ"]
    for f, want in ref.items():
        got = ours[f]
        if [m["ruleid"] for m in got] != [m["ruleid"] for m in want]:
            problems.append(f"{f}: rules {[m['ruleid'] for m in got]}")
            continue
        for a, b in zip(want, got):
            if (a["dataclass"], a["ruletype"]) != (b["dataclass"],
                                                   b["ruletype"]) \
                    or abs(float(a["confidence"])
                           - float(b["confidence"])) > 1e-9:
                problems.append(f"{f}: match {b['ruleid']} differs")
    for f, gst in golden["stats"].items():
        st = report["stats"][f]
        for k in ("ftype", "n_uniq", "minlen", "maxlen"):
            if st[k] != gst[k]:
                problems.append(f"{f}: stats {k} {st[k]} != {gst[k]}")
        if abs(st["share_uniq"] - float(gst["share_uniq"])) > 1e-9:
            problems.append(f"{f}: share_uniq differs")
    return problems


class TableScan:
    min_ops = 1

    def __init__(self, spark, work: Path, seed: int, fails: Failures):
        self.spark, self.work, self.seed, self.fails = spark, work, seed, fails
        self.cols_done = 0
        self.scan_s = 0.0
        self.timer = contextlib.nullcontext

    @staticmethod
    def generate(work: Path, seed: int) -> list[dict]:
        import gen

        sys.path.insert(0, str(ROOT / "tests"))
        import fixtures_gen

        tables = work / "tables"
        if tables.exists():
            shutil.rmtree(tables)
        return gen.write_tables(str(tables), seed, fixtures_gen)

    def setup(self, specs: list[dict]) -> None:
        """Tables come from the generator; the golden fixtures are
        written through Spark exactly as the golden tests build them:
        one fixture per run, chosen by seed, so seven consecutive seeds
        cover every fixture."""
        import fixtures_gen

        self.specs = specs
        goldens = json.loads((ROOT / "tests" / "golden" /
                              "golden_labels.json").read_text("utf8"))
        names = sorted(GOLDEN_ARGS)
        self.golden_runs = []
        for name in (names[self.seed % len(names)],):
            path = self.work / "golden" / f"{name}.parquet"
            # one file, so the scan sees the fixture's row order (the
            # golden labels of a --limit scan depend on which rows lead)
            self.spark.createDataFrame(golden_items(name, fixtures_gen)) \
                .coalesce(1).write.mode("overwrite").parquet(str(path))
            self.golden_runs.append((name, path, goldens[name]))

    def warmup(self) -> None:
        """One untimed pass over the tables: the timed pass then starts
        equally warm for every seed."""
        self.op(0)
        self.cols_done, self.scan_s = 0, 0.0

    def finish(self) -> None:
        """After the timed ops: the golden-fixture checks."""
        for run in self.golden_runs:
            self.golden_check(run)

    def golden_check(self, run: tuple) -> None:
        name, path, golden = run
        rep_path = self.work / f"golden-{name}.json"
        problems = []
        try:
            rc, _ = run_cli(["scan-file", str(path), "--output",
                             str(rep_path), *GOLDEN_ARGS[name]])
            if rc != 0:
                problems.append(f"exit code {rc}")
            else:
                problems += golden_problems(
                    json.loads(rep_path.read_text("utf8")), golden)
        except Exception:
            problems.append("raised " + traceback.format_exc(limit=3))
        self.fails.record(f"golden {name}", problems)

    def op(self, i: int) -> float:
        """One pass of ``scan-file`` over every table in turn; returns
        the summed wall seconds of the scans."""
        problems: list[str] = []
        total = 0.0
        for k, spec in enumerate(self.specs):
            dt, bad = self.scan(spec, self.work / f"report{i}-{k}.json")
            total += dt
            problems += [f"{Path(spec['path']).name}: {p}" for p in bad]
        self.fails.record(f"scan pass {i}", problems)
        return total

    def scan(self, spec: dict, rep_path: Path) -> tuple[float, list[str]]:
        problems: list[str] = []
        t0 = time.perf_counter()
        try:
            with self.timer():
                rc, _ = run_cli(["scan-file", spec["path"], "--output",
                                 str(rep_path)])
        except Exception:
            rc = -1
            problems.append("raised " + traceback.format_exc(limit=3))
        dt = time.perf_counter() - t0
        if rc != 0 and not problems:
            problems.append(f"exit code {rc}")
        if not problems:
            rep = json.loads(rep_path.read_text("utf8"))
            labels = {rec["field"]: {m["dataclass"] for m in rec["matches"]}
                      for rec in rep["data"]}
            if len(labels) != spec["cols"]:
                problems.append(f"{len(labels)} fields != {spec['cols']}")
            for col, cls in spec["expect"].items():
                if cls not in labels.get(col, ()):
                    problems.append(f"{col} not labelled {cls}")
            self.cols_done += len(labels)
            self.scan_s += dt
        rep_path.unlink(missing_ok=True)
        return dt, problems


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------

def traced_ops(wl, tracer, stores, first_op: int, n: int) -> list[dict]:
    """Run ``n`` operations with a root span ``op`` around each CLI
    call; return each op's per-layer numbers."""
    import ledger

    per_op = []
    wl.timer = lambda: tracer.span("op")
    try:
        for i in range(first_op, first_op + n):
            tracer.op_id = i
            stores.take()
            e0 = time.time()
            wl.op(i)
            e1 = time.time()
            spans = tracer.op_spans(i)
            wall = sum(s.duration for s in spans if s.name == "op")
            window = stores.take()
            m = stores.layer_metrics(window, wall, (e0, e1))
            m["_jobs_by_span"] = stores.jobs_by_group(window)
            own = ledger.self_time_by_name(spans)
            dur: dict[str, float] = {}
            for s in spans:
                dur[s.name] = dur.get(s.name, 0.0) + s.duration
            m["op_s"] = wall
            # wall inside the CLI call but in no layer span
            m["ledger.residual_s"] = own.get("op", 0.0)
            m["ledger.residual_frac"] = m["ledger.residual_s"] / wall
            m["_self"], m["_dur"] = own, dur
            per_op.append(m)
    finally:
        wl.timer = contextlib.nullcontext
    return per_op


def span_metric(per_op: list, key: str) -> float:
    return statistics.median(m["_dur"].get(key, 0.0) for m in per_op)


def install_spans(tracer, spark, workload: str) -> None:
    """Spans around the public functions each workload calls, looked up
    where the callers look them up."""
    import metacrafter_spark.corpus.pipeline as pipeline
    import metacrafter_spark.corpus.resume as resume
    import metacrafter_spark.io.sources as sources
    import metacrafter_spark.io.sinks as sinks
    import metacrafter_spark.scanner as scanner
    from pyspark.sql import readwriter
    from pyspark.sql.classic import dataframe as cdf

    import metacrafter_spark.corpus.html as html
    import metacrafter_spark.io.iceberg as iceberg
    import metacrafter_spark.io.warc as warc

    if workload == "ingest":
        tracer.patch(warc, "scan_warc_cdx", "warc.scan_warc_cdx")
        tracer.patch(html, "with_extracted_text", "html.with_extracted_text")
        tracer.patch(pipeline, "classify_corpus", "pipeline.classify_corpus")
        tracer.patch(pipeline, "bucket_metrics", "pipeline.bucket_metrics")
        for stage in ("with_langid", "with_perplexity", "with_quality",
                      "with_scrub"):
            tracer.patch(pipeline, stage, f"pipeline.{stage}")
        tracer.patch(iceberg, "flatten_struct_columns",
                     "iceberg.flatten_struct_columns")
        tracer.patch(resume, "run_with_resume", "resume.run_with_resume")
        tracer.patch(resume.TableIO, "read", "resume.read")
    else:
        tracer.patch(sources, "scan_file", "sources.scan_file")
        tracer.patch(scanner, "compute_stats", "analyzer.compute_stats")
        tracer.patch(scanner, "match_columns", "matcher.match_columns")
        tracer.patch(scanner, "assemble_report", "scanner.assemble_report")
        tracer.patch(sinks, "write_report", "sinks.write_report")
    for meth in ("count", "collect", "first", "toPandas"):
        tracer.patch(cdf.DataFrame, meth, f"action.{meth}", action=True)
    for meth in ("save", "parquet"):
        tracer.patch(readwriter.DataFrameWriter, meth, f"action.{meth}",
                     action=True)

    sc = spark.sparkContext

    def tag_jobs(span):
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{span.name}#{span.span_id}", span.name)

    tracer.on_action = tag_jobs


def isolate_stages(spark, man: dict) -> dict:
    """Each per-doc stage alone over the cached extracted pages into the
    ``noop`` sink, minus the noop baseline over the same pages."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from metacrafter_spark.corpus.html import with_extracted_text
    from metacrafter_spark.corpus.langid import with_langid
    from metacrafter_spark.corpus.perplexity import with_perplexity
    from metacrafter_spark.corpus.pipeline import classify_corpus
    from metacrafter_spark.corpus.quality import with_quality
    from metacrafter_spark.corpus.scrub import with_scrub
    from metacrafter_spark.io.warc import cdx_parse, scan_warc_cdx

    def noop(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    out = {}
    cdx = cdx_parse(spark.read.text(man["cdx_glob"]))
    out["warc.fetch_s"] = (noop(scan_warc_cdx(spark, man["cdx_glob"],
                                              man["warc_dir"]))
                           - noop(cdx))
    raw = scan_warc_cdx(spark, man["cdx_glob"], man["warc_dir"]) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    out["warc.body_mb"] = raw.agg(F.sum(F.length("html"))).first()[0] / 1e6
    out["html.extract_s"] = (noop(with_extracted_text(raw, "html", "text"))
                             - noop(raw))
    pages = (with_extracted_text(raw, "html", "text")
             .select("url", "warc_ts", "html", "text",
                     F.lit("").alias("lang"))
             .persist(StorageLevel.MEMORY_AND_DISK))
    pages.count()
    base = min(noop(pages), noop(pages))
    for key, fn in (("langid.s", with_langid),
                    ("perplexity.s", with_perplexity),
                    ("quality.s", with_quality),
                    ("scrub.s", with_scrub),
                    ("pipeline.noop_s", classify_corpus)):
        out[key] = noop(fn(pages)) - base
    pages.unpersist()
    raw.unpersist()
    return out


# ---------------------------------------------------------------------------
# the 1-core arm of ingest (its own process)
# ---------------------------------------------------------------------------

def scaling_arm(spec_path: Path) -> int:
    spec = json.loads(spec_path.read_text())
    work = Path(spec["work"])
    pin_env(work)
    sys.path.insert(0, str(HERE))
    spark = start_session(1)
    try:
        fails = Failures()
        wl = Ingest(spark, work, spec["seed"], fails)
        wl.setup(spec["manifest"])
        wl.warmup()
        dt = wl.op(1)
        spec_path.with_suffix(".out.json").write_text(json.dumps(
            {"op_s": dt, "digest": wl.digest, "failed": fails.failed,
             "reasons": fails.reasons}))
    finally:
        stop_session(spark)
    return 0


def stop_group(proc: subprocess.Popen) -> None:
    """Kill ``proc``'s process group and wait until all of it is gone."""
    with contextlib.suppress(ProcessLookupError):
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_scaling_arm(work: Path, seed: int, man: dict,
                    timeout: float) -> dict:
    arm = work / "arm1"
    arm.mkdir(parents=True, exist_ok=True)
    spec = arm / "spec.json"
    spec.write_text(json.dumps({"work": str(arm), "seed": seed,
                                "manifest": man}))
    # its own process group, so a stop also ends its JVM and workers
    proc = subprocess.Popen(
        [sys.executable, str(Path(__file__)), "--arm", str(spec)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_group(proc)
        return {"op_s": None, "skipped":
                f"1-core arm stopped after {timeout:.0f} s"}
    res_path = spec.with_suffix(".out.json")
    if proc.returncode != 0 or not res_path.exists():
        return {"op_s": None, "digest": None, "failed": 1,
                "reasons": [f"1-core arm exit code {proc.returncode}"]}
    return json.loads(res_path.read_text())


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

WORKLOADS = {"ingest": Ingest, "table_scan": TableScan}


def measure(wl, seconds: float, first_op: int, min_ops: int) -> list[float]:
    """Time at least ``min_ops`` operations, and more while less than
    ``seconds`` have passed."""
    times: list[float] = []
    t_end = time.perf_counter() + seconds
    while len(times) < min_ops or time.perf_counter() < t_end:
        times.append(wl.op(first_op + len(times)))
    return times


def run(args) -> dict:
    import selftest

    selftest.run_all()
    work = WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        pin_env(work)
        return run_in(work, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_in(work: Path, args) -> dict:
    cls = WORKLOADS[args.workload]
    steal0, total0 = cpu_ticks()
    fails = Failures()
    report: dict = {"workload": args.workload, "seed": args.seed}
    # set-up: session start once, input generation SETUP_REPS times
    t0 = time.perf_counter()
    spark = start_session(nproc())
    try:
        session_s = time.perf_counter() - t0
        gen_times = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            inputs = cls.generate(work, args.seed)
            gen_times.append(time.perf_counter() - t)
        wl = cls(spark, work, args.seed, fails)
        t = time.perf_counter()
        wl.setup(inputs)
        setup_s = (session_s + statistics.median(gen_times)
                   + time.perf_counter() - t)

        t = time.perf_counter()
        wl.warmup()
        report["warmup_s"] = time.perf_counter() - t
        if args.trace:
            layers, times, report["trace_checks"] = traced_layers(
                spark, wl, args, t0)
        else:
            layers, times = {}, measure(wl, args.seconds, 1, wl.min_ops)
        wl.finish()
        metrics = {"op_s_p50": statistics.median(times), "setup_s": setup_s}
        # peak RSS swings by a fifth between runs of one seed: reported,
        # and a per-layer figure, but not gated
        layers["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    finally:
        stop_session(spark)

    steal1, total1 = cpu_ticks()
    extra = {"n_ops": len(times),
             "ops_failed_frac": fails.failed / max(fails.attempted, 1)}
    if args.workload == "ingest":
        extra["docs_per_s"] = wl.man["pages"] / metrics["op_s_p50"]
        extra["out_bytes_per_doc"] = statistics.median(wl.out_bytes)
    else:
        extra["cols_per_s"] = wl.cols_done / wl.scan_s if wl.scan_s else 0.0
    import pyarrow
    import pyspark

    report.update({
        "metrics": {**metrics, **extra, **layers},
        "op_s": times,
        "failures": fails.reasons,
        "env": {"nproc": nproc(), "ram_gib": round(mem_total_gib(), 2),
                "cpu_steal_frac": (steal1 - steal0)
                / max(total1 - total0, 1),
                "pyspark": pyspark.__version__,
                "pyarrow": pyarrow.__version__,
                "python": platform.python_version(),
                "driver_mem": os.environ["SPARK_DRIVER_MEM"]},
    })
    print(json.dumps(report, default=float))
    units, vals = (LAYER_UNITS, layers) if args.trace else (E2E_UNITS,
                                                           metrics)
    return {"correct": fails.failed == 0, "attempted": fails.attempted,
            "failed": fails.failed,
            "metrics": {k: {"value": float(vals.get(k, 0.0)), "unit": u}
                        for k, u in units.items()}}


def traced_layers(spark, wl, args, t0: float) -> tuple[dict, list, dict]:
    """One op under spans, then one untraced op (the tracing overhead's
    base, and the op time of the run), then for ``ingest`` the stage
    isolation and the 1-core arm; ``t0`` is the run's start on the perf
    counter.  The untraced op runs second so that warm-up still under
    way can only lift the overhead, never push it below zero.  Also
    returns the ledger's consistency checks."""
    import ledger

    tracer = ledger.Tracer()
    stores = ledger.SparkStores(spark)
    install_spans(tracer, spark, args.workload)
    try:
        per_op = traced_ops(wl, tracer, stores, 1, 1)
    finally:
        tracer.restore()
    times = measure(wl, 0, 2, 1)
    write_trace(tracer, args, per_op)
    layers = summarize_layers(per_op, args.workload, wl,
                              statistics.median(times))
    # the Python worker time of a stage runs inside its tasks
    checks = {"py.run_s <= spark.task_s":
              layers["py.run_s"] <= layers["spark.task_s"]}
    if args.workload != "ingest":
        return layers, times, checks
    layers["scrub.spans"] = float(statistics.median(wl.pii_spans))
    layers.update(isolate_stages(spark, wl.man))
    if time.perf_counter() - t0 > ARM_START_LIMIT_S:
        arm = {"op_s": None, "skipped": "1-core arm not started: too late "
               "to end within the run's time limit"}
    else:
        arm = run_scaling_arm(
            wl.work, args.seed, wl.man,
            timeout=RUN_LIMIT_S - (time.perf_counter() - t0))
    if "skipped" in arm:
        # the run's time limit, not the program: no check ran, and
        # scaling_eff reads 0
        checks["1-core arm"] = arm["skipped"]
    else:
        wl.fails.record("1-core arm", arm["reasons"] if arm["failed"] else
                        [] if arm["digest"] == wl.digest else
                        ["digest differs from the nproc arm"])
    if arm["op_s"]:
        # both arms: the first op over the dump after a warm-up op over
        # the same dump
        layers["scaling_eff"] = arm["op_s"] / times[0] / nproc()
    return layers, times, checks


def summarize_layers(per_op: list, workload: str, wl, untraced_p50: float
                     ) -> dict:
    keys = [k for k in per_op[0] if not k.startswith("_")]
    out = {k: statistics.median(m[k] for m in per_op) for k in keys}
    out["trace.overhead_s"] = out.pop("op_s") - untraced_p50
    scrub_rows = out.pop("pipeline.scrub_rows")
    if workload == "ingest":
        out["pipeline.passes"] = scrub_rows / wl.man["pages"]
        out["pipeline.plan_s"] = span_metric(per_op,
                                             "pipeline.classify_corpus")
        out["resume.write_s"] = span_metric(per_op, "resume.run_with_resume")
    else:
        out["sources.read_s"] = span_metric(per_op, "sources.scan_file")
        out["analyzer.stats_s"] = span_metric(per_op,
                                              "analyzer.compute_stats")
        out["matcher.match_s"] = span_metric(per_op, "matcher.match_columns")
        out["scanner.report_s"] = (
            span_metric(per_op, "scanner.assemble_report")
            + span_metric(per_op, "sinks.write_report"))
        out["rules.pack_load_s"] = pack_load_s()
    return out


def pack_load_s() -> float:
    """One uncached load of the builtin rule pack: the process caches
    the pack after the warm-up, so a span in the traced op reads 0."""
    from metacrafter_spark.rules import load_builtin_pack

    load = getattr(load_builtin_pack, "__wrapped__", load_builtin_pack)
    t = time.perf_counter()
    load()
    return time.perf_counter() - t


def write_trace(tracer, args, per_op: list) -> None:
    d = WORK_ROOT / "traces"
    d.mkdir(parents=True, exist_ok=True)
    path = d / f"{args.workload}-seed{args.seed}.json"
    path.write_text(json.dumps({
        "spans": [{"id": s.span_id, "name": s.name, "op": s.op_id,
                   "parent": s.parent, "start": s.start, "end": s.end}
                  for s in tracer.spans],
        "ops": [{"self_s": m["_self"], "span_s": m["_dur"],
                 "jobs_by_span": m["_jobs_by_span"],
                 **{k: v for k, v in m.items() if not k.startswith("_")}}
                for m in per_op],
    }, indent=1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--arm", type=Path, help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    sys.path.insert(0, str(HERE))
    if args.arm:
        return scaling_arm(args.arm)
    if not args.workload:
        p.error("--workload is required")
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
