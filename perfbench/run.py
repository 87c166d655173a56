"""perfbench: end-to-end and per-layer benchmark of topic_store_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload store --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line before
it is the run's stamp (environment, effective Spark conf, every op's
wall and CPU time, failures).  See ``perfbench/README.md``.
"""

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
E2E_UNITS = {"setup_s": "s", "op_cpu_ms": "ms"}
# Spark task threads.  The ops are small and bound by the Spark driver,
# so more threads barely shorten them, and on a shared box every extra
# thread is one more to wait for a CPU.
MAX_LOCAL_CORES = 2
WORKLOAD_NAMES = ("store", "corpus_dedup")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def program_root() -> str:
    """The checkout whose program is measured: the working directory,
    which must hold the package and the query registry."""
    root = os.getcwd()
    for need in ("topic_store_spark/__init__.py", "__spark_entry__.py", "tools/validate_contract.py"):
        if not os.path.isfile(os.path.join(root, need)):
            raise SystemExit(f"perfbench: {need} not found under {root}; run from a checkout root")
    return root


def source_stamp(root: str) -> dict:
    """Git revision when the checkout has one, and a digest of the
    program's sources, which identifies it either way."""
    rev = "none"
    head = os.path.join(root, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as fh:
            ref = fh.read().strip()
        rev = ref
        if ref.startswith("ref: "):
            ref_path = os.path.join(root, ".git", ref[5:])
            if os.path.isfile(ref_path):
                with open(ref_path) as fh:
                    rev = fh.read().strip()
    digest = hashlib.sha256()
    files = ["__spark_entry__.py"]
    for base, dirs, names in os.walk(os.path.join(root, "topic_store_spark")):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        files += [os.path.relpath(os.path.join(base, n), root) for n in sorted(names) if n.endswith(".py")]
    for rel in files:
        digest.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as fh:
            digest.update(fh.read())
    return {"git_rev": rev, "source_sha256": digest.hexdigest()[:16]}


def _proc_stat(path: str) -> tuple[str, list[str]]:
    """(name, fields after the name) of a /proc stat file."""
    with open(path) as fh:
        raw = fh.read()
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw.rsplit(")", 1)[1].split()


class CpuMeter:
    """CPU seconds (user + system) used so far by the Spark JVM's threads
    that do an op's work and by the JVM's child processes (Python
    workers), read from /proc.  With this process's own CPU time it is
    an op's work CPU time.

    The JVM's JIT compiler and garbage collector threads are left out
    and summed apart (``jit_s``, ``gc_s``): compiling is the JVM still
    warming up, collecting is paid for the allocations of earlier ops,
    and which op either lands in is chance.  The JVM must run with
    ``-XX:-UseDynamicNumberOfCompilerThreads``: a compiler thread that
    exits takes its time out of the per-thread sums but not out of the
    process total."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.hz = os.sysconf("SC_CLK_TCK")
        self.kinds: dict[str, str] = {}  # thread id -> "jit" | "gc" | "work"
        self.jit_s = self.gc_s = 0.0

    @staticmethod
    def _kind(name: str) -> str:
        if "CompilerThre" in name:
            return "jit"
        if name.startswith(("GC Thread", "G1 ", "VM Thread")):
            return "gc"
        return "work"

    def seconds(self) -> float:
        """Work CPU seconds of the JVM side so far; updates ``jit_s`` and
        ``gc_s``."""
        task = f"/proc/{self.jvm}/task"
        # the JVM with its reaped children, less the JIT and GC threads
        ticks = sum(int(v) for v in _proc_stat(f"/proc/{self.jvm}/stat")[1][11:15])
        aside = {"jit": 0, "gc": 0}
        for tid in os.listdir(task):
            try:
                name, fields = _proc_stat(f"{task}/{tid}/stat")
            except OSError:  # the thread ended
                continue
            kind = self.kinds.setdefault(tid, self._kind(name))
            if kind != "work":
                aside[kind] += int(fields[11]) + int(fields[12])
        ticks -= aside["jit"] + aside["gc"]
        self.jit_s, self.gc_s = aside["jit"] / self.hz, aside["gc"] / self.hz
        # the JVM's live descendants
        parent, own = {}, {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    fields = _proc_stat(f"/proc/{name}/stat")[1]
                except OSError:  # the process ended
                    continue
                parent[int(name)] = int(fields[1])
                own[int(name)] = sum(int(v) for v in fields[11:15])
        for pid, t in own.items():
            p = parent[pid]
            while p > 1 and p != self.jvm:
                p = parent.get(p, 0)
            if p == self.jvm:
                ticks += t
        return ticks / self.hz


def start_spark(work: str, cores: int):
    from topic_store_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any wait failure: kill and reap
            proc.kill()
            proc.wait(timeout=30)


def per_op_ms(samples: list, field: int) -> float:
    """Mean of ``field`` (seconds) over ``samples``, in milliseconds."""
    return sum(s[field] for s in samples) / len(samples) * 1e3


class Run:
    """One benchmark run: set-up, warm-up, timed loop, final checks."""

    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        # no pid in the path: stored blob pointers hold it, and the bytes
        # stored per doc byte must repeat for one seed
        self.work = os.path.join(root, ".perfbench", "work", f"{args.workload}-{args.seed}")
        self.out_dir = os.path.join(root, ".perfbench", "out")
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        # (op id, kind, wall s, traced, failed, label, work cpu s)
        self.samples: list[tuple] = []
        self.counters: dict[str, dict[str, float]] = {}

    def record(self, checks: int, failures: list[str]) -> None:
        """Count ``checks`` attempted checks, of which ``failures`` failed."""
        self.attempted += checks
        self.failed += min(checks, len(failures))
        self.failures += failures

    def execute(self, op, op_id: str, traced: bool) -> tuple:
        """Run one op under its job group and check its result; returns
        its sample."""
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, op.kind)
        tracer = self.tracer
        if tracer is not None:
            tracer.active, tracer.op_id = traced, op_id
        jvm0 = self.meter.seconds()
        py0 = time.process_time()
        t0 = time.perf_counter()
        got, problems = None, []
        try:
            if tracer is not None and traced:
                with tracer.span(f"op.{op.kind}"):
                    got = op.run()
            else:
                got = op.run()
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            problems = [f"{op.kind} {op.label}: {exc!r}"[:300]]
        finally:
            elapsed = time.perf_counter() - t0
            cpu = time.process_time() - py0
            if tracer is not None:
                tracer.active = False
        cpu += self.meter.seconds() - jvm0
        if not problems:
            try:
                problems = op.check(got)
            except Exception as exc:  # noqa: BLE001 - a failed check is a result
                problems = [f"{op.kind} {op.label} check: {exc!r}"[:300]]
        self.record(1, problems)
        if tracer is not None and traced:
            from spans import op_counters

            self.counters[op_id] = op_counters(sc, op_id)
        return (op_id, op.kind, elapsed, traced, bool(problems), op.label, cpu)

    def main(self) -> dict:
        from workloads import WORKLOADS

        args = self.args
        load0 = os.getloadavg()[0]
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.makedirs(os.environ["TMPDIR"])
        # the library defaults to a 48g Spark driver heap; size it to a shared box
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        cores = max(1, min(MAX_LOCAL_CORES, os.cpu_count() or 1))

        # inputs are generated while the JVM starts; neither needs the other
        with ThreadPoolExecutor(max_workers=1) as pool:
            pending = pool.submit(WORKLOADS[args.workload].prepare, self.work, args.seed)
            t0 = time.perf_counter()
            self.spark = start_spark(self.work, cores)
            self.spark.range(1).count()  # the context is up once a job has run
            get_spark_s = time.perf_counter() - t0
            prepared = pending.result()
        from pyspark import SparkContext

        self.meter = CpuMeter(SparkContext._gateway.proc.pid)

        self.tracer = None
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark.sparkContext)
            self.tracer.install()
        workload = WORKLOADS[args.workload](
            self.spark, self.work, args.seed, prepared, tracer=self.tracer
        )
        t0 = time.perf_counter()
        workload.setup()
        fixture_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.record(*workload.warmup())
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START

        # timed loop: whole cycles of the op mix, as many as fill
        # --seconds at the workload's nominal cycle time.  The count does
        # not depend on how fast this run goes, so every run times the
        # same ops.  A traced run traces every other op, flipping the
        # parity each cycle, over at least two cycles: every op of the
        # mix is then timed both ways, and traced minus untraced is the
        # tracing overhead.
        cycles = max(1, round(args.seconds / workload.cycle_s))
        if args.trace:
            cycles = max(2, cycles)
        t_loop = time.perf_counter()
        self.meter.seconds()
        jit0, gc0 = self.meter.jit_s, self.meter.gc_s
        n = 0
        last_cycle = 0
        pos = 0
        for op in workload.ops():
            if op.cycle != last_cycle:
                last_cycle, pos = op.cycle, 0
                if op.cycle == cycles:
                    break
            traced = bool(args.trace) and (pos + op.cycle) % 2 == 1
            pos += 1
            self.samples.append(self.execute(op, f"op{n}", traced))
            n += 1
        loop_s = time.perf_counter() - t_loop
        self.meter.seconds()
        self.loop_jit_s, self.loop_gc_s = self.meter.jit_s - jit0, self.meter.gc_s - gc0

        if hasattr(workload, "clone_op"):
            self.samples.append(self.execute(workload.clone_op(), "clone", bool(args.trace)))
        self.record(*workload.finish())

        timed = [s for s in self.samples if s[0] != "clone"]
        untraced = [s for s in timed if not s[3]]
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "loadavg_1m": [load0, os.getloadavg()[0]],
            "local_cores": cores,
            **source_stamp(self.root),
            "spark_conf": dict(sorted(self.spark.sparkContext.getConf().getAll())),
            "get_spark_s": get_spark_s,
            "fixture_s": fixture_s,
            "warmup_s": warmup_s,
            "oracle_s": getattr(workload, "oracle_s", 0.0),
            "cycles": cycles,
            "ops": len(timed),
            "ops_untraced": len(untraced),
            "loop_s": loop_s,
            "op_wall_ms": per_op_ms(untraced, 2) if untraced else None,
            "loop_jit_cpu_s": self.loop_jit_s,
            "loop_gc_cpu_s": self.loop_gc_s,
            # [label, wall ms, work cpu ms, traced] of every op, in order
            "samples_ms": [[s[5], round(s[2] * 1e3, 1), round(s[6] * 1e3), s[3]] for s in self.samples],
            "failures": self.failures[:20],
        }
        if args.trace:
            from layers import layer_metrics

            metrics = layer_metrics(
                self, workload, timed, {"get_spark_s": get_spark_s, "warmup_s": warmup_s}
            )
            os.makedirs(self.out_dir, exist_ok=True)
            spans = os.path.join(self.out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
            self.tracer.dump(spans)
            stamp["spans_file"] = os.path.relpath(spans, self.root)
        else:
            metrics = {"setup_s": setup_s, "op_cpu_ms": per_op_ms(untraced, 6)}
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
        print(json.dumps({"perfbench": stamp}))
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def close(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = program_root()
    sys.path[:0] = [HERE, root, os.path.join(root, "tools")]
    run = Run(args, root)
    try:
        result = run.main()
    finally:
        run.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
