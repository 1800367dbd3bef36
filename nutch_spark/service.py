"""NutchServer REST analog — job / config / seed / db management over
HTTP, as a thin layer on :class:`~nutch_spark.crawl.CrawlRun` and the
readers.

Reference: ``src/java/org/apache/nutch/service`` (~2.6 kLoC) —
``NutchServer.java`` (CXF JAX-RS endpoint), ``resources/`` —
AdminResource.java:37-57 (server status, delayed stop),
ConfigResource.java:44-86 (list / get / get-property / create /
delete), SeedResource.java:56-74 (seed list → seed.txt on disk),
JobResource.java:38-76 (list / info / stop / abort / create),
DbResource.java:44-66 (POST /db/crawldb with type
stats|dump|topN|url → CrawlDbReader.query), ``JobManager.JobType``
(INJECT, GENERATE, FETCH, PARSE, UPDATEDB, INDEX, READDB, CLASS,
INVERTLINKS, DEDUP), ``model/response/JobInfo.State``.

Differences, by design (documented per SURVEY §2.7): this engine's
round is one declarative plan, so GENERATE/FETCH/PARSE/UPDATEDB/
INVERTLINKS/DEDUP are not separately submittable jobs — the composite
``ROUND`` type runs them exactly as ``bin/crawl`` sequences the
reference jobs, and requesting an individual stage type returns 501
with that explanation. ``INDEX`` is submittable standalone (the
reference's IndexingJob also runs post-hoc over committed crawldb +
linkdb + segment dirs): it installs the docs/deletes tables for a
committed round. CLASS is out of MVP (no plugin classloader).

Spark shape: the HTTP layer is stdlib ``ThreadingHTTPServer``; every
job runs on a daemon thread against the ONE shared SparkSession (the
reference's NutchServer likewise shares one Hadoop conf/JVM), and db
queries collect only reader-sized results (stats rows, topN, one url).
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import fields
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from .config import CrawlConfig

JOB_STATES = ("IDLE", "RUNNING", "FINISHED", "FAILED", "KILLED")
ROUND_STAGES = ("GENERATE", "FETCH", "PARSE", "UPDATEDB",
                "INVERTLINKS", "DEDUP")


class _Job:
    def __init__(self, job_id: str, crawl_id: str, jtype: str):
        self.id = job_id
        self.crawl_id = crawl_id
        self.type = jtype
        self.state = "IDLE"
        self.msg = "idle"
        self.result = None

    def info(self) -> dict:
        return {"id": self.id, "crawlId": self.crawl_id,
                "type": self.type, "state": self.state,
                "msg": self.msg, "result": self.result}


class NutchService:
    """The server-side state: config registry, job registry, crawls.

    ``pages`` / ``robots`` / ``http_status`` are the corpus tables a
    crawl runs against (constructor-injected; the reference's
    equivalent is the Hadoop conf's fetcher wiring)."""

    def __init__(self, spark: SparkSession, base_dir: str, pages,
                 robots, http_status=None, start_ms: int | None = None):
        self.spark = spark
        self.base = base_dir
        self.pages = pages
        self.robots = robots
        self.http_status = http_status
        self.start_ms = start_ms
        self.started = time.time()
        self.configs: dict[str, CrawlConfig] = {"default": CrawlConfig()}
        self.jobs: dict[str, _Job] = {}
        self.runs: dict[str, object] = {}   # crawl_id -> CrawlRun
        self._seq = 0
        self._lock = threading.Lock()
        self._crawl_locks: dict[str, threading.Lock] = {}
        self._run_conf: dict[str, str] = {}   # crawl_id -> confId bound
        self.stopping = False

    # --- config manager (ConfManager.java) ---------------------------
    def config_ids(self) -> list[str]:
        return sorted(self.configs)

    def config_map(self, cid: str) -> dict:
        cfg = self.configs[cid]
        out = {}
        for f in fields(cfg):
            v = getattr(cfg, f.name)
            out[f.name] = list(v) if isinstance(v, tuple) else v
        return out

    def config_create(self, cid: str, params: dict,
                      force: bool = False) -> str:
        if cid in self.configs and not force:
            raise KeyError(f"config exists: {cid}")
        self.configs[cid] = self._cfg_with(CrawlConfig(), params)
        return cid

    def config_update(self, cid: str, params: dict) -> None:
        self.configs[cid] = self._cfg_with(self.configs[cid], params)

    @staticmethod
    def _cfg_with(cfg: CrawlConfig, params: dict) -> CrawlConfig:
        names = {f.name: f for f in fields(cfg)}
        kw = {}
        for k, v in (params or {}).items():
            if k not in names:
                raise KeyError(f"unknown config property: {k}")
            if isinstance(getattr(cfg, k), tuple) and isinstance(v, list):
                v = tuple(tuple(x) if isinstance(x, list) else x
                          for x in v)
            kw[k] = v
        return cfg.with_(**kw)

    # --- job manager (JobManager.java, JobWorker) ---------------------
    def _run_for(self, crawl_id: str, cid: str):
        from .crawl import CrawlRun
        if crawl_id not in self.runs:
            self.runs[crawl_id] = CrawlRun(
                self.spark, os.path.join(self.base, "crawls", crawl_id),
                self.configs[cid], self.pages, self.robots,
                self.http_status)
            self._run_conf[crawl_id] = cid
        elif self._run_conf.get(crawl_id) != cid:
            # a CrawlRun is bound to one config for its lifetime;
            # silently executing under the cached config would discard
            # the caller's requested settings (the reference rebuilds
            # per-job Hadoop confs from the JobConfig's confId)
            raise ValueError(
                f"crawlId {crawl_id!r} is bound to confId "
                f"{self._run_conf[crawl_id]!r}; submit with that confId "
                f"or use a new crawlId for config {cid!r}")
        return self.runs[crawl_id]

    def _crawl_lock(self, crawl_id: str) -> threading.Lock:
        # mutating jobs (INJECT/ROUND) serialize per crawl: the crawldb
        # snapshot install is single-writer (stage → rename → commit
        # marker), so two concurrent ROUNDs on one crawl must queue —
        # the second then sees resume_round() advanced and runs N+2
        with self._lock:
            return self._crawl_locks.setdefault(crawl_id,
                                                threading.Lock())

    def job_create(self, crawl_id: str, jtype: str, cid: str,
                   args: dict) -> dict:
        jtype = (jtype or "").upper()
        if jtype in ROUND_STAGES:
            raise NotImplementedError(
                f"{jtype} is not separately submittable here: the "
                f"round is one declarative plan — submit type=ROUND "
                f"(runs {'>'.join(s.lower() for s in ROUND_STAGES)} "
                f"as bin/crawl sequences them)")
        if jtype not in ("INJECT", "ROUND", "INDEX", "READDB",
                         "PURGE"):
            raise NotImplementedError(f"unsupported job type: {jtype}")
        with self._lock:
            self._seq += 1
            job_id = f"{crawl_id}-{jtype}-{self._seq}"
            job = _Job(job_id, crawl_id, jtype)
            self.jobs[job_id] = job

        def work():
            job.state = "RUNNING"
            job.msg = "running"
            try:
                job.result = self._execute(job, cid, args or {})
                job.state = "FINISHED"
                job.msg = "finished"
            except Exception as e:       # surfaced via /job/{id}
                job.state = "FAILED"
                job.msg = f"{type(e).__name__}: {e}"

        threading.Thread(target=work, daemon=True).start()
        return job.info()

    def _execute(self, job: _Job, cid: str, args: dict):
        run = self._run_for(job.crawl_id, cid)
        # INJECT and ROUND run on the crawl's round clock, as
        # CrawlRun.crawl does: a crawl continued here,
        # by the CLI or after a server restart stays on one clock, and
        # ``start_ms`` only pins the epoch of a new crawl
        if job.type == "INJECT":
            seed_path = args["url_dir"]    # JobConfig args, as reference
            seeds = self.spark.read.text(seed_path) \
                .withColumnRenamed("value", "line")
            with self._crawl_lock(job.crawl_id):
                db = run.inject(seeds, run.epoch_ms(self.start_ms))
                # the committed snapshot's footer rows: no count job
                return {"crawldb_rows": run.rows_or_count(db)}
        if job.type == "ROUND":
            with self._crawl_lock(job.crawl_id):
                rnd, now = run.next_round(self.start_ms)
                stats = run.run_round(rnd, now)
            return {"round": rnd, **{k: v for k, v in stats.items()
                                     if isinstance(v, (int, float))}}
        if job.type == "INDEX":
            # IndexingJob over an already-committed round
            # (JobResource JobType.INDEX → IndexingJob.java:96-180);
            # writes under the crawl dir, so it serializes with
            # mutating jobs on the same crawl
            with self._crawl_lock(job.crawl_id):
                return run.index_round(
                    int(args["round"]) if "round" in args else None)
        if job.type == "READDB":
            return self.db_query(job.crawl_id,
                                 args.get("type", "stats"), args)
        if job.type == "PURGE":
            # frontier purge of db_gone urls (CleaningJob deletion
            # semantic applied to the crawldb; with a cuckoo seen
            # layer the purged fingerprints are deleted in place) —
            # commits the next snapshot, so it serializes with the
            # crawl's mutating jobs
            with self._crawl_lock(job.crawl_id):
                return run.purge_gone(run.resume_round())
        raise NotImplementedError(job.type)

    def job_list(self, crawl_id: str | None = None) -> list[dict]:
        return [j.info() for j in self.jobs.values()
                if crawl_id in (None, "", j.crawl_id)]

    def job_stop(self, job_id: str) -> bool:
        # a running Spark action cannot be preempted from here; only
        # idle (not-yet-started) jobs can be stopped — the reference's
        # stop is likewise best-effort (JobManager.stop)
        job = self.jobs.get(job_id)
        if job and job.state == "IDLE":
            job.state = "KILLED"
            job.msg = "killed before start"
            return True
        return False

    # --- db queries (DbResource.java:44-66) ---------------------------
    def db_query(self, crawl_id: str, qtype: str, args: dict):
        from .operators import readers
        run = self.runs.get(crawl_id)
        if run is None:
            raise KeyError(f"unknown crawlId: {crawl_id}")
        db = run.load_crawldb(run.resume_round())
        qtype = (qtype or "stats").lower()
        if qtype == "stats":
            rows = readers.crawldb_stats(db).collect()
        elif qtype == "topn":
            rows = readers.crawldb_top_n(
                db, int(args.get("topN", args.get("nnn", 10)))).collect()
        elif qtype == "url":
            rows = readers.crawldb_get(db, args["url"]).collect()
        elif qtype == "dump":
            out = readers.crawldb_dump(db, regex=args.get("regex"),
                                       status=args.get("status"))
            rows = out.limit(int(args.get("limit", 1000))).collect()
        else:
            raise NotImplementedError(f"db query type: {qtype}")
        return [r.asDict(recursive=True) for r in rows]

    # --- seed lists (SeedResource.java:56-74) --------------------------
    def seed_create(self, name: str, urls: list[str]) -> str:
        d = os.path.join(self.base, "seeds", name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "seed.txt"), "w") as f:
            for u in urls:
                f.write(u + "\n")
        return d

    # --- admin (AdminResource.java) ------------------------------------
    def admin_status(self) -> dict:
        return {"startDate": int(self.started * 1000),
                "configuration": self.config_ids(),
                "jobs": self.job_list(),
                "runningJobs": [j.info() for j in self.jobs.values()
                                if j.state == "RUNNING"]}

    def can_stop(self, force: bool) -> bool:
        return force or not any(j.state == "RUNNING"
                                for j in self.jobs.values())


def make_server(service: NutchService,
                port: int = 0) -> ThreadingHTTPServer:
    """Bind the service to an HTTP server (port 0 = ephemeral).
    Start with ``threading.Thread(target=srv.serve_forever)``."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):      # quiet test runs
            pass

        def _send(self, obj, code: int = 200):
            body = json.dumps(obj).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body(self) -> dict:
            n = int(self.headers.get("Content-Length") or 0)
            return json.loads(self.rfile.read(n) or b"{}")

        def _route(self, method: str):
            from urllib.parse import parse_qs, urlparse
            u = urlparse(self.path)
            parts = [p for p in u.path.split("/") if p]
            q = {k: v[0] for k, v in parse_qs(u.query).items()}
            s = service
            try:
                if parts == ["admin"]:
                    return self._send(s.admin_status())
                if parts == ["admin", "stop"]:
                    force = q.get("force", "false") == "true"
                    if not s.can_stop(force):
                        return self._send(
                            "Jobs still running -- Cannot stop "
                            "server now")
                    s.stopping = True
                    threading.Thread(target=self.server.shutdown,
                                     daemon=True).start()
                    return self._send("Stopping the server")
                if parts == ["config"] and method == "GET":
                    return self._send(s.config_ids())
                if parts == ["config", "create"] and method == "POST":
                    b = self._body()
                    return self._send(s.config_create(
                        b["configId"], b.get("params") or {},
                        bool(b.get("force"))))
                if len(parts) == 2 and parts[0] == "config":
                    cid = parts[1]
                    if method == "GET":
                        return self._send(s.config_map(cid))
                    if method == "DELETE":
                        del s.configs[cid]
                        return self._send(True)
                    if method == "POST":
                        s.config_update(cid, self._body())
                        return self._send(True)
                if len(parts) == 3 and parts[0] == "config":
                    return self._send(
                        s.config_map(parts[1]).get(parts[2]))
                if parts == ["seed", "create"] and method == "POST":
                    b = self._body()
                    return self._send(s.seed_create(
                        b.get("name", "default"),
                        b.get("seedUrls") or []))
                if parts == ["job"] and method == "GET":
                    return self._send(s.job_list(q.get("crawlId")))
                if parts == ["job", "create"] and method == "POST":
                    b = self._body()
                    return self._send(s.job_create(
                        b.get("crawlId", "default"), b.get("type"),
                        b.get("confId", "default"),
                        b.get("args") or {}))
                if len(parts) >= 2 and parts[0] == "job":
                    job = s.jobs.get(parts[1])
                    if job is None:
                        return self._send("no such job", 404)
                    if len(parts) == 2:
                        return self._send(job.info())
                    if parts[2] in ("stop", "abort"):
                        return self._send(s.job_stop(parts[1]))
                if parts == ["db", "crawldb"] and method == "POST":
                    b = self._body()
                    return self._send(s.db_query(
                        b.get("crawlId", "default"),
                        b.get("type", "stats"), b.get("args") or {}))
                return self._send(f"no route: {self.path}", 404)
            except NotImplementedError as e:
                return self._send(str(e), 501)
            except KeyError as e:
                return self._send(str(e), 400)
            except Exception as e:
                return self._send(f"{type(e).__name__}: {e}", 500)

        def do_GET(self):
            self._route("GET")

        def do_POST(self):
            self._route("POST")

        def do_DELETE(self):
            self._route("DELETE")

    return ThreadingHTTPServer(("127.0.0.1", port), Handler)
