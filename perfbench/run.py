"""Crawl-round benchmark for nutch_spark.

    python3 perfbench/run.py --workload discover --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process on ``local[nproc/2]``
executes crawl rounds as a closed loop: each round (``CrawlRun.
run_round``: generate → fetch → parse → updatedb → invertlinks → dedup
→ snapshot commit) starts after the previous crawldb commit. Each
round runs in a fresh episode over the round-0 frontier the seeded
generator built (``webgen.py``); episodes repeat until ``--seconds``
of rounds have run (at least one). Every round's outputs are checked
against the generator's expectation (``checks.py``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
first round under the span wrappers of ``tracing.py`` with the Spark
event log on, then one untraced round as the overhead reference, and
prints the per-layer metrics. The last stdout line is the result
object; the line before it is the run's context record (machine,
commit, seed, Spark config). Exit status is non-zero when a check
fails or the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "urls_per_s": "URL/s",
    "round_s_p50": "s",
    "bytes_written_per_url": "B/URL",
    "peak_rss_mb": "MB",
    "round_ok_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def nproc() -> int:
    # affinity, not OMP_NUM_THREADS-aware `nproc`: the cores this
    # process may actually run on
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Spark task threads: half the cores. A round at these sizes is
    mostly driver work and per-job overhead, and the JVM's JIT and GC
    threads, the driver thread and the Python workers need cores too;
    a task thread per core made rounds slower."""
    return max(1, nproc() // 2)


def _prepare_env(work: str) -> None:
    """Keep every file the JVMs, the Python workers and tempfile create
    inside the checkout, and let the workers import the program.
    Shuffle and spill go through the session factory's own
    ``SPARK_LOCAL_DIRS`` override; the JVM flags ride in
    ``JAVA_TOOL_OPTIONS`` so the factory's ``extraJavaOptions`` stay
    its own."""
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no /tmp/hsperfdata file, JVM temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class RssSampler(threading.Thread):
    """High-water RSS of the JVM plus its descendants (the Python
    workers), sampled from /proc while ``recording`` is set."""

    def __init__(self, pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak_kb = 0
        self.recording = threading.Event()
        self._stop_evt = threading.Event()

    def _tree_rss_kb(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            todo.extend(children.get(p, []))
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf(
                        "SC_PAGE_SIZE") // 1024
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            if self.recording.is_set():
                self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                nbytes += os.path.getsize(os.path.join(root, fn))
                nfiles += 1
            except OSError:
                pass
    return nbytes, nfiles


def cpu_canary() -> float:
    """Seconds for a fixed pure-Python loop: a noise diagnostic."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def cpu_steal_s() -> float:
    """Hypervisor steal time of all CPUs since boot (s): the share of
    the host other guests took, a noise diagnostic."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def git_commit() -> str:
    """HEAD of the checkout; "unknown" outside a repository."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
    except OSError:
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown"


class Bench:
    """One benchmark process: session, inputs, episodes, checks."""

    def __init__(self, args, web, work: str, digest: str):
        self.args, self.web, self.work = args, web, work
        self.digest = digest
        self.trace = bool(args.trace)
        self.rounds: list[float] = []       # wall of each round that ran
        self.digests: list[str] = []
        self.errors: list[str] = []
        self.fetched = self.written = 0
        self.steal = 0.0                    # steal time during rounds
        self.attempted = self.failed = self.raised = 0
        self.sampler: RssSampler | None = None

    # --- set-up ----------------------------------------------------------
    def setup(self) -> dict:
        from nutch_spark import schema as S
        from nutch_spark.session import get_spark
        from nutch_spark.storage import SnapshotTable
        import pandas as pd

        t0 = time.perf_counter()
        cores = spark_cores()
        self.spark = get_spark("perfbench", cores=cores,
                               shuffle_partitions=cores,
                               extra_conf=_spark_conf(self.work, self.trace))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()

        def frame(rows, schema):
            return self.spark.createDataFrame(
                pd.DataFrame(rows, columns=schema.fieldNames()), schema=schema)

        pages = frame(self.web.pages, S.PAGES)
        table = SnapshotTable(self.spark, self.work, "pages",
                              bucket_col="url", n_buckets=cores)
        self.pages = table.commit(pages, 0)
        self.robots = frame(self.web.robots_rows(), S.ROBOTS)
        self.db0 = frame(self.web.db0, S.CRAWLDB)
        t2 = time.perf_counter()
        self.run = self.install(0)
        t3 = time.perf_counter()
        return {"session.start_s": t1 - t0,
                "storage.pages_commit_s": t2 - t1,
                "session.install_s": t3 - t2}

    def install(self, episode: int):
        """A fresh crawl dir holding the round-0 frontier: the crawldb
        snapshot and the run's own URL-seen layer over it. Partition
        and bucket counts equal the Spark task threads (the library
        defaults assume a 32-core host); everything else is the library
        default except the workload's own generate settings."""
        from nutch_spark.config import CrawlConfig
        from nutch_spark.crawl import CrawlRun

        n = spark_cores()
        out = os.path.join(self.work, f"crawl-{episode}")
        cfg = CrawlConfig().with_(num_fetch_partitions=n, **self.web.cfg)
        run = CrawlRun(self.spark, out, cfg, self.pages, self.robots, None,
                       bloom_buckets=n, db_buckets=n)
        run.db_table.commit(self.db0, 0)
        run._write_bloom(run.load_crawldb(0), 0)
        return run

    # --- rounds ----------------------------------------------------------
    def play(self, run, episode: int, tracer=None) -> bool:
        """Time one round of ``run`` (under a round span when
        ``tracer`` is given), then check its outputs. True when the
        round completed."""
        from checks import check_round
        from webgen import ROUND_MS, order_digest

        bytes0, _ = dir_stats(run.out)
        if tracer is not None:
            tracer.base = run.out
            tracer.active = True
            span = tracer.begin("round", "round")
        self.sampler.recording.set()
        steal0 = cpu_steal_s()
        t0 = time.perf_counter()
        try:
            run.run_round(1, ROUND_MS)
            ok = True
        except Exception as exc:  # a failed round is counted, not fatal
            log(f"round raised: {exc!r}")
            ok = False
        wall = time.perf_counter() - t0
        self.steal += cpu_steal_s() - steal0
        self.sampler.recording.clear()
        if tracer is not None:
            tracer.end(span)
            tracer.active = False
        self.attempted += 1
        log(f"episode {episode}: round {wall:.1f} s")
        if not ok:
            self.raised += 1
            self.failed += 1
            self.errors.append(f"episode {episode}: round raised")
            return False
        self.rounds.append(wall)
        self.written += dir_stats(run.out)[0] - bytes0
        obs = self.observe(run)
        self.fetched += len(obs.fetch_rows)
        self.digests.append(order_digest(obs.fetch_rows))
        errs = check_round(self.web.expect, obs, self.digest)
        self.errors += [f"episode {episode}: {e}" for e in errs]
        self.failed += bool(errs)
        return True

    @staticmethod
    def observe(run):
        """The round's committed crawl_fetch, parse_text and crawldb
        snapshot, read from their parquet files (no Spark job)."""
        import pyarrow.parquet as pq

        from checks import Observed

        def read(path: str, cols: list[str]) -> dict:
            return pq.read_table(path, columns=cols).to_pydict()

        seg = os.path.join(run.out, "segments", "{}", "round=1")
        f = read(seg.format("crawl_fetch"), ["queue_id", "virtual_time", "url"])
        t = read(seg.format("parse_text"), ["url", "text"])
        with open(os.path.join(run.out, "crawldb", "_table.json")) as fh:
            db_path = json.load(fh)["snapshots"]["1"]["path"]
        return Observed(
            list(zip(f["queue_id"], f["virtual_time"], f["url"])),
            list(zip(t["url"], t["text"])),
            read(db_path, ["url"])["url"])


def post_round_counts(bench: Bench, run, bytes0: int,
                      files0: int) -> dict:
    """Figures of the traced round that need extra reads or Spark jobs,
    taken after its clock stopped."""
    import glob

    from pyspark.sql import functions as F

    from nutch_spark.operators import urlseen
    from nutch_spark.operators.fetch import fetch_metrics
    from webgen import ROUND_MS

    spark = bench.spark
    spark.sparkContext.setJobDescription("pb:post")

    def record_rows(path: str) -> int:
        with open(os.path.join(path, "_snapshot.json")) as f:
            return json.load(f)["rows"]

    def seg(name: str) -> str:
        return os.path.join(run.out, "segments", name, "round=1")

    with open(os.path.join(run.out, "crawldb", "_table.json")) as f:
        db_meta = json.load(f)["snapshots"]
    committed = glob.glob(os.path.join(run.out, "**", "round=1",
                                       "_snapshot.json"), recursive=True)

    cf = spark.read.parquet(seg("crawl_fetch"))
    fm = fetch_metrics(cf).collect()
    queues = cf.groupBy("queue_id").count().collect()
    outlinks = spark.read.parquet(seg("parse_data")) \
        .select(F.sum(F.size("outlinks"))).first()[0] or 0
    parsed_urls = [u for u, _text in bench.observe(run).parse_text]

    # the round's linked messages, rebuilt from the committed
    # parse_data, split against the committed round-0 seen layer
    linked = (spark.read.parquet(seg("parse_data"))
              .select("url", F.explode("outlinks.to_url").alias("to"))
              .where(F.col("to") != F.col("url"))
              .select(F.col("to").alias("url"))).persist()
    n_linked = linked.count()
    bloom = spark.read.parquet(os.path.join(run.out, "urlseen_bloom",
                                            "round=0"))
    new, maybe = urlseen.split_seen(linked, bloom)
    n_new = new.count()
    false_pos = maybe.join(run.load_crawldb(0).select("url"), "url",
                           "left_anti").count()
    linked.unpersist()
    nbytes, nfiles = dir_stats(run.out)
    spark.sparkContext.setJobDescription(None)
    return {
        "db_rows_in": db_meta["0"]["rows"],
        "db_rows_out": db_meta["1"]["rows"],
        "fetchlist_rows": record_rows(seg("crawl_generate")),
        "fetch_items": record_rows(seg("crawl_fetch")),
        "fetch_success": sum(r.n for r in fm if r.status == "fetch_success"),
        "robots_denied": sum(r.n for r in fm if (r.protocol_status or "")
                             .startswith("robots_denied")),
        "virtual_makespan_s": (max(r.last_virtual_time for r in fm)
                               - ROUND_MS) / 1000.0,
        "queues": len(queues),
        "top_queue": max((r["count"] for r in queues), default=0),
        "parsed_rows": record_rows(seg("parse_text")),
        "html_bytes": sum(bench.web.html_bytes[u] for u in parsed_urls),
        "outlinks": outlinks,
        "linkdb_rows": record_rows(os.path.join(run.out, "linkdb",
                                                "round=1")),
        "linked_in": n_linked,
        "seen_new": n_new,
        "seen_false_pos": false_pos,
        # crawl_fetch + signature + linked messages
        "messages_in": record_rows(seg("crawl_fetch"))
        + record_rows(seg("parse_text")) + n_linked,
        "bytes_written": nbytes - bytes0,
        "files_written": nfiles - files0,
        "rows_written": db_meta["1"]["rows"] + sum(
            record_rows(os.path.dirname(p)) for p in committed),
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import webgen
    from checks import expected_digest

    if args.workload not in webgen.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import nutch_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-"
                                   f"{os.getpid()}")
    _prepare_env(work)

    context = {"workload": args.workload, "seed": args.seed,
               "trace": args.trace, "nproc": nproc(),
               "spark_cores": spark_cores(),
               "loadavg": os.getloadavg(), "cpu_canary_s": cpu_canary(),
               "commit": git_commit()}
    web = webgen.build(args.workload, args.seed)   # not timed
    bench = Bench(args, web, work,
                  expected_digest(args.workload, args.seed, web.expect))
    layer: dict[str, float] = {}
    try:
        t0 = time.perf_counter()
        setup = bench.setup()
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.1f} s {setup}")
        conf = bench.spark.sparkContext.getConf().getAll()
        context["spark_conf"] = {k: v for k, v in sorted(conf)
                                 if not k.startswith("spark.app.")
                                 and k != "spark.driver.host"}
        from pyspark import SparkContext
        bench.sampler = RssSampler(SparkContext._gateway.proc.pid)
        bench.sampler.start()
        if bench.trace:
            layer = traced(bench, setup)
        else:
            run, episode = bench.run, 0
            while True:
                bench.play(run, episode)
                shutil.rmtree(run.out, ignore_errors=True)
                episode += 1
                if sum(bench.rounds) >= args.seconds \
                        or bench.attempted > len(bench.rounds):
                    break
                run = bench.install(episode)
    finally:
        if bench.sampler is not None:
            bench.sampler.stop()
        if getattr(bench, "spark", None) is not None:
            stop_session(bench.spark)
        shutil.rmtree(work, ignore_errors=True)

    context.update(rounds=len(bench.rounds), round_s=bench.rounds,
                   steal_s=bench.steal, digests=bench.digests)
    for e in bench.errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    if args.trace:
        from tracing import PER_LAYER_METRICS
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER_METRICS.items()}
    else:
        rounds, fetched = bench.rounds, bench.fetched
        values = {
            "setup_s": setup_s,
            "urls_per_s": fetched / sum(rounds) if rounds else 0.0,
            "round_s_p50": statistics.median(rounds) if rounds else 0.0,
            "bytes_written_per_url": (bench.written / fetched
                                      if fetched else 0.0),
            "peak_rss_mb": bench.sampler.peak_kb / 1024.0,
            "round_ok_frac": (bench.attempted - bench.raised)
            / bench.attempted,
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    correct = not bench.errors and bench.attempted > 0
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0 if correct else 1


def traced(bench: Bench, setup: dict) -> dict[str, float]:
    """The traced run: the first round under the span wrappers, its
    post-round counts, one untraced round in a fresh episode as the
    tracing-overhead reference, then the per-layer metrics from spans
    and the event log."""
    from tracing import Tracer, round_metrics

    args = bench.args
    tracer = Tracer(bench.spark, f"{args.workload}-{args.seed}")
    tracer.install()
    run = bench.run
    try:
        bytes0, files0 = dir_stats(run.out)
        if not bench.play(run, 0, tracer):
            return {}
    finally:
        tracer.uninstall()
    counts = post_round_counts(bench, run, bytes0, files0)
    traced_s = bench.rounds[-1]
    shutil.rmtree(run.out, ignore_errors=True)
    run = bench.install(1)
    untraced_s = bench.rounds[-1] if bench.play(run, 1) else None
    shutil.rmtree(run.out, ignore_errors=True)
    stop_session(bench.spark)
    bench.spark = None
    events = tracer.read_event_log(os.path.join(bench.work, "eventlog"))
    span = next(s for s in tracer.spans if s.kind == "round")
    layer = round_metrics(tracer, span, events, counts)
    layer.update(setup)
    if untraced_s is not None:
        layer["crawl.trace_overhead_s"] = traced_s - untraced_s
    os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
    tracer.dump(os.path.join(
        WORK_ROOT, "traces",
        f"{args.workload}-{args.seed}-{int(time.time())}.json"),
        {"metrics": layer, "counts": counts})
    return layer


if __name__ == "__main__":
    sys.exit(main())
