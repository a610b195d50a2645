"""Closed-loop benchmark of the scene engine and its corpus operators.

Usage (from the repository root):

    python3 perfbench/run.py --workload scene_select --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke

One client submits one Spark job at a time to ``local[nproc]``; the next
pass starts when the previous one has returned. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones (see
``BENCHMARK.json`` and ``perfbench/layers.json``). Every pass's output
digest is checked against a DuckDB reference over the same stored
inputs. The last stdout line is the JSON result.

Everything the run writes goes under ``.perfbench_work/`` in the
current directory; inputs are deleted at exit, the trace report
(spans and per-span numbers) is kept under ``.perfbench_work/reports``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PASSES = 2
TRACE_REPS = 2
FALLBACK_LINE = b"Failed to compile"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# /proc: CPU of the JVM process tree and its resident high-water mark
# ---------------------------------------------------------------------------


def _ticks(stat: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat line."""
    return stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split()


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime + stime + cutime + cstime in clock ticks)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                _, rest = _ticks(f.read())
        except OSError:
            continue
        table[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return table


def process_tree(root: int, table: dict | None = None) -> list[int]:
    table = table or _proc_table()
    pids, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        if p in table:
            pids.append(p)
            frontier.extend(c for c, (pp, _) in table.items() if pp == p)
    return pids


def _jit_ticks(jvm: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads (C1/C2 CompilerThreadN)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                name, rest = _ticks(f.read())
        except OSError:
            continue
        if "CompilerThre" in name:
            ticks += int(rest[11]) + int(rest[12])
    return ticks


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the JVM ``root`` and every process below
    it (its Python workers, including reaped ones), without the JIT
    compiler threads: compilation is warm-up a long-lived driver stops
    paying, and on a fresh JVM it outweighs the engine's own work."""
    table = _proc_table()
    ticks = sum(table[p][1] for p in process_tree(root, table)) - _jit_ticks(root)
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def driver_heap() -> str:
    """Driver heap sized to the machine: a quarter of MemTotal, 1-8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(8, kb // (4 << 20)))}g"


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args):
        import duckdb

        self.args = args
        self.cpus = len(os.sched_getaffinity(0))
        self.heap = driver_heap()
        self.heap_mb = int(self.heap[:-1]) * 1024
        base = os.path.join(os.getcwd(), ".perfbench_work")
        self.reports = os.path.join(base, "reports")
        self.dir = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
        self.tmp = os.path.join(self.dir, "tmp")
        for d in (self.reports, self.tmp, os.path.join(self.dir, "data")):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        )
        # the JVM inherits fd 2: its log (codegen fallbacks included)
        # goes to a file, this process keeps the original stderr
        self.log_path = os.path.join(self.dir, "driver.log")
        saved = os.dup(2)
        fd = os.open(self.log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        sys.stderr = os.fdopen(saved, "w", buffering=1)
        self.con = duckdb.connect()
        self.con.sql(f"SET threads = {self.cpus}")
        self.con.sql(f"SET temp_directory = '{self.tmp}/duckdb'")
        self.spark = self.wl = None
        self.attempted = self.failed = 0
        self.correct = True

    # -- session ----------------------------------------------------------

    def start_session(self, eventlog: str | None = None):
        from pyrosar_spark.session import get_spark

        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            # a fixed heap and young generation: the resident high-water
            # mark then follows live data, not GC heap-sizing decisions
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                f"-Xms{self.heap} -Xmn{self.heap_mb // 4}m "
                # compiler threads that exit would take their CPU time
                # out of the per-thread accounting in tree_cpu_s
                "-XX:-UseDynamicNumberOfCompilerThreads"
            ),
        }
        if eventlog:
            os.makedirs(eventlog, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{eventlog}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            "perfbench", cpus=self.cpus, driver_memory=self.heap, extra_conf=conf
        )
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        if self.wl is not None:
            self.wl.spark = self.spark

    def jvm_alive(self) -> bool:
        try:
            with open(f"/proc/{self.jvm_pid}/stat") as f:
                return _ticks(f.read())[1][0] != "Z"
        except OSError:
            return False

    def shutdown(self) -> None:
        """Stop Spark and the JVM, and wait until its process tree is gone."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        pids = process_tree(self.jvm_pid) if self.spark is not None else []
        try:
            if self.spark is not None:
                self.spark.stop()
        except Exception:
            pass
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 20
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, 9)
            except OSError:
                pass

    # -- passes -----------------------------------------------------------

    def check(self, step: str, got) -> bool:
        if got == self.refs[step][1]:
            return True
        log(f"output mismatch in {step}: got {got}, reference {self.refs[step][1]}")
        self.correct = False
        return False

    def run_pass(self) -> tuple[float, bool]:
        from digest import spark_digest

        ok, total = True, 0.0
        for step, build in self.wl.steps():
            t0 = time.perf_counter()
            got = spark_digest(build().select(*self.refs[step][0]))
            total += time.perf_counter() - t0
            ok = self.check(step, got) and ok
        return total, ok

    def closed_loop(self, seconds: float) -> list[tuple[float, float]]:
        """Timed passes until ``seconds`` have passed (at least MIN_PASSES).
        Returns (wall s, JVM-tree CPU s) of each pass that succeeded."""
        passes = []
        t_end = time.perf_counter() + seconds
        n = 0
        while n < MIN_PASSES or time.perf_counter() < t_end:
            n += 1
            self.attempted += 1
            cpu0 = tree_cpu_s(self.jvm_pid)
            try:
                dt, ok = self.run_pass()
            except Exception:
                log(traceback.format_exc())
                self.failed += 1
                if not self.jvm_alive():
                    log("the Spark JVM is gone; ending the run")
                    break
                continue
            cpu = tree_cpu_s(self.jvm_pid) - cpu0
            log(f"pass {n}: {dt:.3f} s wall, {cpu:.2f} s CPU, output ok={ok}")
            if ok:
                passes.append((dt, cpu))
            else:
                self.failed += 1
        return passes

    # -- traced spans -----------------------------------------------------

    def log_pos(self) -> int:
        return os.path.getsize(self.log_path)

    def fallbacks_between(self, a: int, b: int) -> int:
        with open(self.log_path, "rb") as f:
            f.seek(a)
            return f.read(b - a).count(FALLBACK_LINE)

    def span(self, label: str, build, kind: str) -> None:
        """Run one traced span: build under job group ``label``, then act.
        ``kind``: ``digest`` (a pass step), ``noop`` (a pipeline prefix)
        or ``call`` (``build`` does its own action)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from digest import spark_digest

        sc = self.sc
        sc.setJobGroup(label, label)
        pos, start_ms, t0 = self.log_pos(), time.time() * 1e3, time.perf_counter()
        try:
            df = build()
            build_jobs = len(sc.statusTracker().getJobIdsForGroup(label))
            rows = 0
            if kind == "digest":
                step = label.split("#")[0]
                got = spark_digest(df.select(*self.refs[step][0]))
                rows = got[0]
                self.attempted += 1
                if not self.check(step, got):
                    self.failed += 1
            elif kind == "noop":
                obs = Observation(label)
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                    "overwrite"
                ).save()
                rows = obs.get["n"]
            dt = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.spans.append(
            {
                "label": label,
                "start_ms": start_ms,
                "end_ms": time.time() * 1e3,
                "fallbacks": self.fallbacks_between(pos, self.log_pos()),
            }
        )
        self.records[label] = {"s": dt, "rows": float(rows), "build_jobs": float(build_jobs)}

    def traced(self, untraced_pass_s: float) -> dict[str, float]:
        """Restart Spark with its event log on, run the traced reps and
        return the per-layer metrics."""
        import eventlog

        evdir = os.path.join(self.dir, "eventlog")
        self.spark.stop()
        self.start_session(eventlog=evdir)
        self.spans, self.records = [], {}
        for rep in range(TRACE_REPS):
            for name, build in self.wl.prefixes():
                self.span(f"{name}#{rep}", build, "noop")
            for name, build in self.wl.steps():
                self.span(f"{name}#{rep}", build, "digest")
        self.wl.trace_extras(self)
        self.spark.stop()  # flushes the event log
        engine = eventlog.span_metrics(eventlog.read_events(evdir), self.spans)

        t = {}
        for label, rec in self.records.items():
            rec["spark"] = engine[label]
            name = label.split("#")[0]
            t.setdefault(name, []).append(rec)
        med = {}
        for name, recs in t.items():
            med[name] = {
                k: statistics.median(r[k] for r in recs) for k in ("s", "rows", "build_jobs")
            }
            med[name]["spark"] = {
                k: statistics.median(r["spark"][k] for r in recs) for k in recs[0]["spark"]
            }
        metrics = self.wl.layer_metrics(med)
        steps = [name for name, _ in self.wl.steps()]
        for k in eventlog.SPARK_METRICS:
            metrics[f"spark.{k}"] = sum(med[s]["spark"][k] for s in steps)
        run = metrics["spark.exec_run_s"]
        metrics["spark.cpu_over_run"] = metrics["spark.exec_cpu_s"] / run if run > 0 else 0.0
        fastest = min(
            sum(self.records[f"{s}#{rep}"]["s"] for s in steps) for rep in range(TRACE_REPS)
        )
        metrics["trace.full_pass_s"] = sum(med[s]["s"] for s in steps)
        metrics["trace.untraced_pass_s"] = untraced_pass_s
        metrics["trace.overhead_frac"] = fastest / untraced_pass_s - 1 if untraced_pass_s else 0.0
        with open(self.report_path(), "w") as f:
            json.dump({"spans": self.spans, "records": self.records, "medians": med}, f, indent=1)
        return metrics

    def report_path(self) -> str:
        a = self.args
        return os.path.join(self.reports, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")

    # -- main -------------------------------------------------------------

    def execute(self) -> dict:
        from workloads import WORKLOADS

        a = self.args
        t0 = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t0
        self.wl = WORKLOADS[a.workload](
            self.spark, os.path.join(self.dir, "data"), a.seed, a.scale, self.con
        )
        t0 = time.perf_counter()
        self.wl.generate()
        datagen_s = time.perf_counter() - t0
        self.refs = self.wl.references()
        t0 = time.perf_counter()
        _, warm_ok = self.run_pass()  # a fresh JVM runs it 1.5-3x slower
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + datagen_s + warmup_s
        log(
            f"{a.workload}: {self.wl.n_docs} docs, seed {a.seed}, local[{self.cpus}], "
            f"driver heap {self.heap}, setup {setup_s:.2f} s (session {session_s:.2f}, "
            f"inputs {datagen_s:.2f}, warm-up {warmup_s:.2f}), warm-up ok={warm_ok}"
        )

        if not a.trace:
            passes = self.closed_loop(a.seconds)
            rss = peak_rss_mb(self.jvm_pid) if self.jvm_alive() else 0.0
            n = len(passes)
            cpu = statistics.median(p[1] for p in passes) if passes else 0.0
            if passes:
                wall = statistics.median(p[0] for p in passes)
                log(f"docs_per_s {self.wl.n_docs / wall:.1f} (median of {n} passes, not bounded)")
            # name -> (value, samples)
            metrics = {
                "cpu_s_per_kdoc": (cpu / (self.wl.n_docs / 1e3), n),
                "peak_rss_mb": (rss, 1),
                "ok_frac": ((self.attempted - self.failed) / max(self.attempted, 1), self.attempted),
                "setup_s": (setup_s, 1),
            }
        else:
            # tracing overhead: fastest traced full pass over fastest
            # untraced one (the least sensitive to JIT warm-up)
            passes = self.closed_loop(a.seconds / 2)
            untraced = min(p[0] for p in passes) if passes else 0.0
            layer = self.traced(untraced)
            if passes:
                layer["docs_per_s"] = self.wl.n_docs / statistics.median(p[0] for p in passes)
            layer["session.start_s"] = session_s
            layer["datagen.write_s"] = datagen_s
            layer["warmup_s"] = warmup_s
            layer["session.driver_heap_mb"] = float(self.heap_mb)
            metrics = {k: (v, TRACE_REPS) for k, v in layer.items()}
        return metrics


def declared(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (1 = the benchmark)")
    p.add_argument("--smoke", action="store_true", help="tiny run of every workload; check metric names")
    a = p.parse_args(argv)
    if a.smoke:
        return smoke()
    if not a.workload:
        p.error("--workload is required")

    # the program under test comes from the checkout; without it, fail
    # before printing any result
    sys.path[:0] = [ROOT, HERE]
    import __spark_entry__  # noqa: F401
    import pyrosar_spark  # noqa: F401
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        p.error(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    units = declared(a.trace)

    run = Run(a)
    try:
        measured = run.execute()
    finally:
        run.shutdown()
        shutil.rmtree(run.dir, ignore_errors=True)

    out, width = {}, max(len(k) for k in units)
    print(f"{'metric':<{width}}  {'value':>14}  unit      samples")
    for name, unit in units.items():
        value, n = measured.get(name, (0.0, 0))
        out[name] = {"value": float(value), "unit": unit}
        print(f"{name:<{width}}  {float(value):>14.6g}  {unit:<8}  {n}")
    for name in sorted(set(measured) - set(units)):
        log(f"measured metric {name!r} is not declared in BENCHMARK.json")
    print(
        json.dumps(
            {
                "correct": run.correct and run.attempted > run.failed,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": out,
            }
        )
    )
    return 0


def smoke() -> int:
    """Run every workload at a tiny size, traced and untraced, and check
    that each prints exactly the metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    bad = 0
    for name in names:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--scale", "0.02"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
                names = set(res["metrics"])
                problems = []
                if proc.returncode != 0:
                    problems.append(f"exit code {proc.returncode}")
                if not res["correct"] or res["failed"]:
                    problems.append(f"correct={res['correct']} failed={res['failed']}")
                if names != set(declared(trace)):
                    problems.append(f"metric names differ: {sorted(names ^ set(declared(trace)))}")
                if "not declared" in proc.stderr:
                    problems.append("a measured metric is not declared")
            except (IndexError, ValueError, KeyError):
                problems = [f"no result (exit {proc.returncode}): {proc.stderr[-2000:]}"]
            bad += bool(problems)
            print(f"{name} trace={trace}: {'ok' if not problems else '; '.join(problems)}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
