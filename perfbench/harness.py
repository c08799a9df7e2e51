"""What every workload shares: the Spark session, the HTTP endpoint and
its one closed-loop client, answer checking, the host calibration job,
peak memory, and the end-to-end summary statistics."""

from __future__ import annotations

import contextlib
import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request

import queries
from spans import Tracer, median, uncovered

CPUS = 4
SETUPS = 3  # set-ups per run; setup_s reports their median
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile), but never below p90: below 100 samples that
    percentile sinks towards the median (p50 at 20 samples) and jumps
    with every sample more, so the interpolated p90 is reported instead,
    with fewer than ten samples beyond it."""
    xs = sorted(samples)
    if len(xs) < 100:
        if len(xs) == 1:
            return xs[0], 90.0
        return statistics.quantiles(xs, n=10, method="inclusive")[-1], 90.0
    return xs[len(xs) - 11], 100.0 * (len(xs) - 10) / len(xs)


class Run:
    """One benchmark run: owns its work directory, the Spark session and
    JVM, the endpoint, and the operation counts."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 traced: bool):
        self.root, self.workload = root, workload
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.work = os.path.join(root, "perfbench", ".work",
                                 f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.attempted = self.failed = 0
        self.latency: dict[str, list[float]] = {}
        self.ops_in_window = 0
        self.window_s = 0.0
        self.setup_s: list[float] = []
        self.by_template: dict[tuple[str, str], list[float]] = {}
        self.layer: dict[str, float] = {}  # per-layer figures (traced run)
        self.figures: dict[str, tuple[float, str]] = {}  # stderr report
        self.spark = None
        self.tracer: Tracer | None = None
        self.tracing = False
        self._gateway = None
        self._httpd = None
        self.url = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session -------------------------------------------------------------
    def start_spark(self) -> float:
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        # every JVM started from here (the launcher and the driver) keeps
        # its temp files in the work directory; no hsperfdata under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        conf = {
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the whole heap committed and touched at JVM start, so peak
            # RSS does not depend on how far G1 chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        }
        t0 = time.perf_counter()
        from pyspark import SparkContext

        from rdfproject_msc_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               cpus=CPUS, extra_conf=conf)
        start = time.perf_counter() - t0
        self._gateway = SparkContext._gateway
        self.figures["session.start_s"] = (start, "s")
        if self.traced:
            self.tracer = Tracer(self.spark)
        self.calibrate()
        return start

    def calibrate(self) -> None:
        """host.calib_s: median time of a fixed-work CPU job (hash and
        xor-fold over a generated range: no IO, no shuffle). It moves with
        ambient contention on the host, not with the program."""
        def job():
            return self.spark.range(0, 60_000_000, 1, CPUS).selectExpr(
                "bit_xor(xxhash64(id)) AS h").collect()

        job()
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            job()
            samples.append(time.perf_counter() - t0)
        self.figures["host.calib_s"] = (statistics.median(samples), "s")

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus its Spark JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        proc = getattr(self._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    # -- endpoint --------------------------------------------------------------
    def serve(self, engine, enable_update: bool = False) -> None:
        from rdfproject_msc_spark.serve import make_server

        self.stop_server()
        self._httpd = make_server(engine, port=0, json_limit=10000,
                                  enable_update=enable_update)
        t = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        t.start()
        self._thread = t
        self.url = f"http://127.0.0.1:{self._httpd.server_address[1]}/sparql"

    def stop_server(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._thread.join(timeout=30)
            self._httpd = None

    def send(self, req: queries.Request) -> tuple[int, bytes]:
        ctype = ("application/sparql-update" if req.update
                 else "application/sparql-query")
        r = urllib.request.Request(self.url, data=req.text.encode("utf-8"),
                                   headers={"Content-Type": ctype})
        try:
            with urllib.request.urlopen(r, timeout=170) as resp:
                return resp.status, resp.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    def op(self, req: queries.Request, kind: str | None = None) -> float:
        """Send one request, read the whole body, check the answer.
        Returns the latency; a non-2xx status, an exception or a wrong
        answer counts as a failed operation."""
        self.attempted += 1
        kind = kind or ("update" if req.update else "query")
        t0 = time.perf_counter()
        try:
            if self.tracing:
                with self.tracer.request(self.attempted, kind):
                    status, body = self.send(req)
            else:
                status, body = self.send(req)
            lat = time.perf_counter() - t0
            why = queries.check(req, status, body)
        except Exception as e:  # the run goes on; the failure is counted
            lat, why = time.perf_counter() - t0, f"{type(e).__name__}: {e}"
        if why:
            self.fail(f"{req.template}: {why}")
        return lat

    def span(self, name: str):
        """A tracer span in a traced run, a no-op otherwise."""
        return self.tracer.span(name) if self.traced else contextlib.nullcontext()

    def begin_trace(self) -> None:
        self.tracer.install()
        self.tracing = True

    def end_trace(self) -> None:
        self.tracer.uninstall()
        self.tracing = False

    def fail(self, why: str) -> None:
        self.failed += 1
        log(f"FAILED {why}")

    def timed(self, kind: str, req: queries.Request) -> float:
        lat = self.op(req)
        self.latency.setdefault(kind, []).append(lat)
        self.by_template.setdefault((kind, req.template), []).append(lat)
        return lat

    def setups(self, setup) -> None:
        """Run ``setup`` SETUPS times; its median time is the run's
        set-up cost (the last set-up stays live)."""
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            setup()
            self.setup_s.append(time.perf_counter() - t0)

    def window(self, reqs: list, kind: str = "query") -> int:
        """Closed loop, one client: send the next request when the last
        answer is read, until ``seconds`` have passed (starting over at
        the head of ``reqs`` if it runs out). Returns how many were sent."""
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        n = 0
        while n == 0 or time.perf_counter() < deadline:
            self.timed(kind, reqs[n % len(reqs)])
            n += 1
        self.window_s += time.perf_counter() - t0
        self.ops_in_window += n
        return n

    # -- results ---------------------------------------------------------------
    def end_to_end(self, kind: str = "query") -> dict:
        """``query_p50_s`` is the mean over request templates of each
        template's median latency (the plain median when there is one
        template): the templates come in equal shares, and a median over
        all of them would fall in the gap between two templates' latency
        clusters, where one sample more or less moves it."""
        lat = self.latency.get(kind, [])
        t, pct = tail(lat)
        self.figures["query_tail_percentile"] = (pct, "%")
        self.figures["query_samples"] = (len(lat), "count")
        p50s = []
        for (k, name), xs in self.by_template.items():
            self.figures[f"p50.{k}.{name}_s"] = (statistics.median(xs), "s")
            if k == kind:
                p50s.append(statistics.median(xs))
        return {
            "setup_s": (self.figures["session.start_s"][0]
                        + statistics.median(self.setup_s), "s"),
            "query_p50_s": (statistics.mean(p50s or [statistics.median(lat)]), "s"),
            "query_tail_s": (t, "s"),
            "queries_per_s": (self.ops_in_window / self.window_s, "1/s"),
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
        }

    def close(self) -> None:
        """Stop the endpoint, the session and the JVM, and wait for the
        JVM to exit; then remove the work directory."""
        try:
            self.stop_server()
            if self.spark is not None:
                self.spark.stop()
            gw = self._gateway
            if gw is not None:
                from pyspark import SparkContext

                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)
                SparkContext._gateway = SparkContext._jvm = None
        finally:
            shutil.rmtree(self.work, ignore_errors=True)


def self_time_of(tracer: Tracer, request_spans: list[dict], names: tuple) -> list[float]:
    """Per request: the request span minus the time its server-side
    spans named in ``names`` cover (the endpoint's own time)."""
    by_req: dict[int, list] = {}
    for s in tracer.spans:
        if s["name"] in names and s.get("request") is not None:
            by_req.setdefault(s["request"], []).append(s)
    return [uncovered(r, by_req.get(r["request"], [])) for r in request_spans]


def layer_metrics(run: Run) -> dict:
    """Per-layer figures from the traced run's spans. Times are medians
    per operation, counts are means per operation; a layer the workload
    does not reach reports 0."""
    tr = run.tracer
    reqs = [s for s in tr.of("request") if s.get("kind") == "query"]
    parse = tr.of("parser")
    plan = tr.of("planner")
    look = tr.of("dictionary.lookup")
    acts = tr.of("exec.action")
    upd = tr.of("update")

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def dur(spans):
        return [s["end"] - s["start"] for s in spans]

    n_req = len(tr.of("request"))  # lookups also run inside updates
    returned = sum(a["rows_returned"] for a in acts)
    out = {
        "serve.self_s": median(self_time_of(
            tr, reqs, ("parser", "planner", "exec.action", "update"))),
        "parser.parse_s": median(dur(parse)),
        "planner.build_s": median(dur(plan)),
        "planner.spark_jobs": mean(s["jobs"] for s in plan),
        "planner.py4j_calls": mean(s["py4j_calls"] for s in plan),
        "dictionary.lookup_calls": len(look) / n_req if n_req else 0.0,
        "dictionary.lookup_s": median(dur(look)),
        "exec.action_s": median(dur(acts)),
        "exec.jobs": mean(a["jobs"] for a in acts),
        "exec.stages": mean(a["stages"] for a in acts),
        "exec.exchanges": mean(a["exchanges"] for a in acts),
        "exec.bhj": mean(a["bhj"] for a in acts),
        "exec.smj": mean(a["smj"] for a in acts),
        "exec.shuffle_bytes": mean(a["shuffle_bytes"] for a in acts),
        "exec.rows_scanned_per_row_returned": (
            sum(a["rows_scanned"] for a in acts) / max(returned, 1)
            if acts else 0.0),
        "update.apply_s": median(dur(upd)),
        "update.store_plan_nodes": max((s["store_plan_nodes"] for s in upd), default=0),
        "update.dict_plan_nodes": max((s["dict_plan_nodes"] for s in upd), default=0),
    }
    return out
