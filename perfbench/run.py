"""Benchmark entry point.

    python3 perfbench/run.py --workload longdoc_sweep --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root: the package is imported from the working
directory, and inputs, Spark scratch space and span dumps are written under
``.perfbench_work/`` and ``.perfbench_out/`` there. The session is sized to
the host (``local[nproc]``, driver heap a quarter of RAM capped at 4g).

One run: start a session (a fresh JVM) and build the seeded inputs, three
times over, stopping the JVM between; the last session and copy are used.
That is the set-up. Then measure passes over the
inputs for ``--seconds``, and run the checks that need a reference run of
the package. The measured pass is the first, made in the fresh session: a
batch job runs once per session, so its user waits for the JVM's code
generation and JIT warm-up as well (and a warm-up pass first would double
the length of every run). Later passes are warm; their median is reported
as ``warm_run_s`` in the result record. With ``--trace 1`` warm untraced
and traced passes alternate after the first, and the run adds the
per-layer metrics of the traced passes plus the tracing overhead (median
traced minus median warm untraced pass time). Counts that must not vary
(LLM calls and prompt tokens, collapse/critique/components rounds, stub
requests, candidate pairs) are checked to repeat exactly across the run's
passes.

End-to-end metrics, all printed in the ``result`` record:

* ``run_s`` - wall seconds of the measured pass, from inputs ready to every
  result materialized and checked; ``docs_per_s`` = input docs / ``run_s``;
* ``cpu_s`` - user + system CPU seconds the measured pass cost the process
  tree (this driver, its JVM and Python workers);
* ``setup_s`` - CPU seconds of one set-up (session start and input
  generation), the median of the three; its wall time is ``setup_wall_s``
  in the ``setup`` record;
* ``peak_rss_mb``, ``llm_calls_per_doc``, ``llm_prompt_tokens_per_doc``,
  ``error_rate`` (failed / attempted operations) and ``leaked_rdds``
  (persisted RDDs still held after the pass).

On a shared host the wall times move with the CPU time the hypervisor
steals (the ``steal_share`` of each pass is in the result record); CPU
seconds move far less, so ``cpu_s`` and ``setup_s`` are the end-to-end
metrics BENCHMARK.json bounds.

On every way out (a result, an error, SIGTERM or SIGHUP) the run stops the
JVM it launched and the Python workers under it, and waits until each has
ended.

Stdout: a ``setup`` record, a ``result`` record, then, as the last line,
``{"correct", "attempted", "failed", "metrics"}`` with BENCHMARK.json's
``end_to_end`` metrics (``--trace 0``) or ``per_layer`` metrics
(``--trace 1``). ``failed / attempted`` there is the run's ``error_rate``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3


def host_env(root: str, work: str) -> dict:
    """Environment that sizes the session to this host and keeps every file
    the run writes under ``work``."""
    cores = os.cpu_count() or 1
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(mem_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "TMPDIR": f"{work}/tmp",
        "PYTHONPATH": os.pathsep.join([root, HERE]),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


def median(xs):
    return statistics.median(xs) if xs else 0.0


def bench_spec() -> dict:
    with open("BENCHMARK.json") as f:
        return json.load(f)


def selftest() -> int:
    """Seconds-long check of generator determinism, the stub's counters and
    the layer map's coverage of BENCHMARK.json."""
    import gen
    import urllib.request
    from spans import GENERIC, LAYER_MAP
    from stub import LLMStub, first_k, judge_score

    ok = True
    for f in (lambda s: gen.long_corpus(s, 6), gen.curation_corpus, gen.embeddings):
        a, b, c = gen.fingerprint(f(7)), gen.fingerprint(f(7)), gen.fingerprint(f(8))
        ok &= a == b != c
    # corpus shape is seed-invariant: the same length quantiles for every seed
    ok &= sorted(gen.long_lengths(48)) == sorted(len(t.split()) for _, t in gen.long_corpus(3, 48)["docs"])
    ok &= len(gen.curation_corpus(3)["docs"]) == len(gen.curation_corpus(4)["docs"])
    stub = LLMStub(slots=2, k=3).start()
    try:
        prompts = ["a b c d e", "a b c d e", "x y"]
        for p in prompts:
            req = urllib.request.Request(
                f"{stub.url}/api/generate", data=json.dumps({"prompt": p}).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req, timeout=10) as r:
                ok &= json.loads(r.read())["response"] == first_k(p, 3)
        body = {"messages": [{"role": "user", "content": "judge me"}]}
        req = urllib.request.Request(f"{stub.url}/chat/completions", data=json.dumps(body).encode())
        with urllib.request.urlopen(req, timeout=10) as r:
            content = json.loads(r.read())["choices"][0]["message"]["content"]
            ok &= json.loads(content)["score"] == judge_score("judge me")
        snap = stub.snapshot()
    finally:
        stub.stop()
    ok &= snap["requests"] == 4 and snap["repeated"] == 1 and snap["prompt_tokens"] == 14
    ok &= snap["by_path"] == {"/api/generate": 3, "/chat/completions": 1} and snap["max_inflight"] >= 1
    names = {m["name"] for m in bench_spec()["per_layer"]}
    ok &= {f"{L}.{g}" for L in LAYER_MAP for g in GENERIC} <= names
    ok &= all(n.split(".")[0] in LAYER_MAP or n.split(".")[0] in ("trace", "run") for n in names)
    print(json.dumps({"selftest": "ok" if ok else "FAILED", "stub": snap}))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        return selftest()
    # a stop signal unwinds through the clean-up below like an error does
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    env = host_env(root, work)
    os.environ.update(env)
    sys.path.insert(0, root)
    try:
        import map_reduced_approach_for_vietnamese_long_document_summarization_spark as pkg
    except ImportError as e:
        pkg, err = None, e
    if pkg is None or not os.path.abspath(pkg.__file__).startswith(root + os.sep):
        where = err if pkg is None else pkg.__file__
        print(f"perfbench: the package must be importable from {root}: {where}", file=sys.stderr)
        shutil.rmtree(os.path.dirname(work), ignore_errors=True)
        return 2
    import spans
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    cores = int(env["SPARK_GRAFT_CPUS"])
    spec = bench_spec()
    rss = spans.RssSampler().start()
    spark = workload = None
    try:
        setups = []  # CPU and wall seconds of each set-up; the last one's session is kept
        for rep in range(SETUP_REPS):
            if spark is not None:
                workload.close()
                workload = None
                stop_session(spark)
                spark = None
            cpu, t = spans.tree_cpu_s(), time.perf_counter()
            spark = pkg.get_spark(
                app_name=f"perfbench-{args.workload}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": f"{work}/warehouse",
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']}",
                },
            )
            session_s = time.perf_counter() - t
            workload = wl.WORKLOADS[args.workload](spark, args.seed, cores)
            corpus = workload.build(wl.fresh_dir(f"{work}/inputs-{rep}"))
            setups.append({"cpu_s": spans.tree_cpu_s() - cpu, "wall_s": time.perf_counter() - t,
                           "session_s": session_s})
        tracer = spans.Tracer(spark, cores)
        sc = spark.sparkContext
        n_iter = 0

        def iterate(traced: bool):
            nonlocal n_iter
            n_iter += 1
            it_dir = wl.fresh_dir(f"{work}/iter")
            group = f"perfbench:iteration:{n_iter}"
            cpu, steal = spans.tree_cpu_s(), spans.host_steal()
            t = time.perf_counter()
            if traced:
                with tracer.iteration(f"iteration:{n_iter}"):
                    res = workload.run(tracer, it_dir)
                wall = time.perf_counter() - t
                res.cpu_s = spans.tree_cpu_s() - cpu
                root_span = tracer.roots()[-1]
                tasks = [s for s in tracer.spans if s["parent"] == root_span]
                n_tasks = sum(s["tasks"] for s in tasks)
                n_failed = sum(s["failed_tasks"] for s in tasks)
                workload.diagnose(res)  # extra jobs, after the clock stopped
            else:
                sc.setJobGroup(group, "untraced iteration")
                res = workload.run(None, it_dir)
                wall = time.perf_counter() - t
                res.cpu_s = spans.tree_cpu_s() - cpu
                sc.setLocalProperty("spark.jobGroup.id", None)
                stats = spans.group_stats(sc, group)
                n_tasks, n_failed = stats["tasks"], stats["failed_tasks"]
            steal_end = spans.host_steal()
            res.steal_share = (steal_end[0] - steal[0]) / max(1, steal_end[1] - steal[1])
            res.check("spark.tasks", n_tasks, n_failed)
            # not a repeat-checked count: Spark's ContextCleaner unpersists
            # RDDs whose driver references were garbage-collected, so the
            # figure moves with JVM GC timing
            res.leaked = wl.release_all(spark)
            shutil.rmtree(it_dir, ignore_errors=True)
            return wall, res

        setup_cpu_s = median([x["cpu_s"] for x in setups])
        setup_wall_s = median([x["wall_s"] for x in setups])

        plain, traced = [], []  # (wall, Outcome); plain[0] is the first, cold pass
        t_measure = time.perf_counter()
        while True:
            mode = args.trace and plain and len(traced) < len(plain) - 1
            (traced if mode else plain).append(iterate(bool(mode)))
            elapsed = time.perf_counter() - t_measure
            if elapsed >= args.seconds and (not args.trace or traced):
                break
        window = time.perf_counter() - t_measure
        verified = workload.verify()

        outcomes = [r for _, r in plain + traced]
        repeat = repeat_check([r for _, r in plain], [r for _, r in traced])
        attempted = sum(r.attempted for r in outcomes) + repeat[0] + verified[0]
        failed = sum(r.failed for r in outcomes) + repeat[1] + verified[1]
        n_docs = workload.n_docs
        run_s, first = plain[0]
        warm_run_s = median([w for w, _ in plain[1:]])
        llm_docs = max(1, first.llm_docs)
        e2e = {
            "setup_s": (setup_cpu_s, "s"),
            "run_s": (run_s, "s"),
            "docs_per_s": (n_docs / run_s, "1/s"),
            "cpu_s": (first.cpu_s, "s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
            "llm_calls_per_doc": (first.counts.get("llm_calls", 0) / llm_docs, "count"),
            "llm_prompt_tokens_per_doc": (first.counts.get("llm_prompt_tokens", 0) / llm_docs, "count"),
            "error_rate": (failed / max(1, attempted), "ratio"),
            "leaked_rdds": (first.leaked, "count"),
        }
        setup = {
            "record": "setup",
            "workload": args.workload,
            "seed": args.seed,
            "corpus": corpus,
            "setups": setups,
            "setup_wall_s": setup_wall_s,
            "conf": {k: v for k, v in sorted(spark.sparkContext.getConf().getAll()) if k.startswith("spark.")
                     and not k.endswith((".id", ".port", ".host", "startTime"))},
            "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        }
        print(json.dumps(setup, default=str))
        print(json.dumps({
            "record": "result",
            "passes": len(plain),
            "traced_passes": len(traced),
            "window_s": window,
            "pass_s": [w for w, _ in plain],
            "warm_run_s": warm_run_s,
            "steal_share": [r.steal_share for _, r in plain],
            "checks": {k: list(v) for k, v in first.checks.items()},
            "counts": first.counts,
            "repeat_check": list(repeat),
            "verify_check": list(verified),
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        }))
        if args.trace:
            metrics = layer_metrics(spec, tracer, traced, warm_run_s, cores, e2e, first.stub_busy_s / (run_s * cores))
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGHUP, signal.SIG_IGN)
        try:
            if workload is not None:
                workload.close()
        finally:
            try:
                stop_session(spark)
            finally:
                rss.stop()
                shutil.rmtree(work, ignore_errors=True)


def stop_session(spark) -> None:
    """Stop the session, then the gateway JVM that PySpark launched and every
    process under it (Python workers), and wait until each has ended.
    ``SparkSession.stop`` leaves the JVM running until this process exits."""
    import spans
    from pyspark import SparkContext

    procs = spans.descendants()
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # a call cut short by a signal leaves the gateway connection unusable
            print(f"perfbench: stopping the session failed: {e!r}", file=sys.stderr)
    procs |= spans.descendants()
    gateway = SparkContext._gateway
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()  # the gateway JVM exits at the end of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    left = spans.end_processes(spans.wait_ended(procs, 20.0), grace=5.0)
    if left:
        print(f"perfbench: processes would not end: {sorted(left)}", file=sys.stderr)


def repeat_check(plain: list, traced: list) -> tuple[int, int]:
    """(attempted, failed): every count an untraced (resp. traced) pass
    reports must take one value across the run's untraced (resp. traced)
    passes."""
    attempted = failed = 0
    for group in (plain, traced):
        for key in sorted({k for r in group for k in r.counts}):
            attempted += 1
            failed += len({r.counts.get(key) for r in group}) > 1
    return attempted, failed


def layer_metrics(spec, tracer, traced, warm_run_s, cores, e2e, utilization) -> dict:
    """Per-layer metrics (medians over the traced passes), in the order and
    with the units of BENCHMARK.json's ``per_layer``."""
    per_iter = []
    for (_, res), root in zip(traced, tracer.roots()[-len(traced):]):
        m = tracer.layer_metrics(root)
        m.update(res.layer)
        per_iter.append(m)
    t_run = median([w for w, _ in traced])
    extra = {
        # stub slots busy over the measured pass (run_s x slots)
        "summarizer.utilization": utilization,
        "trace.run_s": t_run,
        "trace.overhead_s": t_run - warm_run_s,
        "run.llm_calls_per_doc": e2e["llm_calls_per_doc"][0],
        "run.llm_prompt_tokens_per_doc": e2e["llm_prompt_tokens_per_doc"][0],
        "run.error_rate": e2e["error_rate"][0],
        "run.leaked_rdds": e2e["leaked_rdds"][0],
        "run.peak_rss_mb": e2e["peak_rss_mb"][0],
        "run.run_s": e2e["run_s"][0],
        "run.docs_per_s": e2e["docs_per_s"][0],
    }
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        v = extra[name] if name in extra else median([it.get(name, 0.0) for it in per_iter])
        out[name] = (v, m["unit"])
    return out


if __name__ == "__main__":
    sys.exit(main())
