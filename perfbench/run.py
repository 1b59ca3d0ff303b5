#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from ``src/main/scala``
plus the harness in ``perfbench/src`` (cached by source hash under
``.bench_build/``), generates the workload's inputs from ``--seed``, runs
the workload in one JVM, checks its outputs and prints one JSON line as
the last line of standard output. See ``perfbench/README.md``.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("etl_poll", "etl_backfill", "board_sql", "board_llm")

# Relational board: TPC-H-style, joins (skew, as-of), windows, aggregates.
BOARD_SQL = ["q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q18", "q_tpch_q21",
             "q_join_skew", "q_join_asof", "q_join_range", "q_win_moving", "q_agg_cube"]
# LLM-data board: connected components (rounds of min-label propagation),
# BPE training (sequential merge rounds), LSH nearest neighbours and a
# prefix-filter near-dup join. Four queries keep a run, cold pass
# included, within the benchmark's time budget on a 4-core machine.
BOARD_LLM = ["q_x_semantic_dedup", "q_x_bpe", "q_x_ann_lsh", "q_x_incr_near_dedup"]
# Board table scale factors (sf0.001: 6000 lineitem rows, 500 documents,
# 500 embeddings, as in the sf0.001 fixture of FIXTURES.md).
BOARD_DATA = {"board_sql": dict(sf=0.002), "board_llm": dict(sf=0.001)}

JVM_OPTS = ["-Xmx2g", "-Xms2g", "-Xss8m", "-XX:+UseG1GC"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]
JVM_TIMEOUT_S = 170


class Fail(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the one build.sbt
    names as ``unmanagedBase``."""
    d = None
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.exists(os.path.join(root, "build.sbt")):
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        d = m and m.group(1)
    if not d or not os.path.isdir(d):
        raise Fail(f"no Spark jars found ({d}); set SPARK_HOME")
    return os.path.join(d, "*")


def build(root, build_dir):
    """Compiles program + harness once per source hash; returns a classpath."""
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not prog:
        raise Fail("no program sources under src/main/scala: run from the repository root")
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    out = os.path.join(build_dir, "classes-" + key)
    jars = spark_jars(root)
    if not os.path.exists(os.path.join(out, ".done")):
        for old in glob.glob(os.path.join(build_dir, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        t0 = time.time()
        for srcs, cp in ((prog, jars), (harness, jars + os.pathsep + out)):
            os.makedirs(out, exist_ok=True)
            r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
                                "-nowarn", "-d", out, "-classpath", cp] + srcs,
                               capture_output=True, text=True)
            if r.returncode != 0:
                raise Fail("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
        open(os.path.join(out, ".done"), "w").close()
        log(f"built {len(prog) + len(harness)} sources in {time.time() - t0:.1f}s")
    return out + os.pathsep + jars, key


class Window:
    """Host health over the run: steal share of CPU time from /proc/stat
    and the highest 1-minute load average, sampled every second."""

    def __init__(self):
        self.busy0, self.steal0 = self.jiffies()
        self.load_max = self.load()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._poll, daemon=True)
        self._t.start()

    @staticmethod
    def jiffies():
        try:
            with open("/proc/stat") as f:
                v = [int(x) for x in f.readline().split()[1:]]
            return v[0] + v[1] + v[2] + v[5] + v[6], (v[7] if len(v) > 7 else 0)
        except (OSError, ValueError, IndexError):
            return -1, -1

    @staticmethod
    def load():
        try:
            with open("/proc/loadavg") as f:
                return float(f.read().split()[0])
        except (OSError, ValueError):
            return -1.0

    def _poll(self):
        while not self._stop.wait(1.0):
            self.load_max = max(self.load_max, self.load())

    def close(self):
        self._stop.set()
        self._t.join()
        busy1, steal1 = self.jiffies()
        d = (busy1 - self.busy0) + (steal1 - self.steal0)
        steal = 100.0 * (steal1 - self.steal0) / d if self.busy0 >= 0 and d > 0 else -1.0
        return {"steal_pct": round(steal, 3), "load_max": self.load_max}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile (rounding keeps 0.9 * 10 at rank 9)."""
    if not xs:
        return 0.0
    return sorted(xs)[max(0, math.ceil(round(q * len(xs), 9)) - 1)]


# ------------------------------------------------------------- ETL checks

def read_version(path):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    secs = pc.cast(pc.cast(t.column("time"), "timestamp[s]"), "int64").to_pylist()
    return list(zip(secs, t.column("city_name").to_pylist(),
                    t.column("weather_description").to_pylist(),
                    t.column("temperature").to_pylist()))


def etl_check(res, ticks, payload_bytes):
    """Final target vs. expected last-writer-wins state, key uniqueness,
    and per batch rows_in = dup_dropped + inserted + updated + unchanged.
    Returns (problems, per-layer counters)."""
    problems = []
    batches = res["batches"]
    if not batches:
        return ["no micro-batch completed"], {}
    store = res["store"]
    counts = {"rows_in": [], "dup_dropped": [], "inserted": [], "updated": [], "unchanged": []}
    write_bytes = []
    prev, prev_tick = {}, 0
    for b in batches:
        vdir = os.path.join(store, f"v={b['id']}")
        rows = read_version(vdir)
        write_bytes.append(sum(os.path.getsize(f) for f in glob.glob(os.path.join(vdir, "*.parquet"))))
        cur = {}
        for r in rows:
            cur.setdefault((r[0], r[1]), []).append(r)
        inp = [gen.row_of(p) for files in ticks[prev_tick:b["end_tick"]] for _, p in files]
        distinct = set(inp)
        ins = sum(len(v) for k, v in cur.items() if k not in prev)
        upd = sum(1 for k, v in cur.items() if k in prev and v != prev[k])
        unch = sum(1 for r in distinct if (r[0], r[1]) in prev and prev[(r[0], r[1])] == [r])
        counts["rows_in"].append(len(inp))
        counts["dup_dropped"].append(len(inp) - len(distinct))
        counts["inserted"].append(ins)
        counts["updated"].append(upd)
        counts["unchanged"].append(unch)
        if len(inp) != len(inp) - len(distinct) + ins + upd + unch:
            problems.append(f"batch {b['id']}: rows_in {len(inp)} != dup_dropped "
                            f"{len(inp) - len(distinct)} + inserted {ins} + updated {upd} + unchanged {unch}")
        prev, prev_tick = cur, b["end_tick"]
    dup_keys = [k for k, v in prev.items() if len(v) > 1]
    if dup_keys:
        problems.append(f"final target: {len(dup_keys)} keys (time, city_name) hold more than one row")
    want = gen.expected_target(ticks, prev_tick)
    got = {r for v in prev.values() for r in v}
    if got != set(want.values()):
        problems.append(f"final target: {len(got - set(want.values()))} unexpected rows, "
                        f"{len(set(want.values()) - got)} missing rows "
                        f"({len(got)} rows for {len(want)} expected keys)")
    n = len(batches)
    admitted = sum(payload_bytes[:prev_tick])
    last = os.path.join(store, f"v={batches[-1]['id']}")
    layer = {f"ingest.{k}": sum(v) / n for k, v in counts.items() if k != "unchanged"}
    layer["ingest.useful_ratio"] = ((sum(counts["inserted"]) + sum(counts["updated"]))
                                    / max(1, sum(counts["rows_in"])))
    layer["store.write_mb_per_batch"] = sum(write_bytes) / n / 1048576
    layer["store.write_amp"] = sum(write_bytes) / max(1, admitted)
    layer["store.target_rows"] = float(sum(len(v) for v in prev.values()))
    layer["store.target_files"] = float(len(glob.glob(os.path.join(last, "*.parquet"))))
    layer["store.target_mb"] = write_bytes[-1] / 1048576
    return problems, layer


def flip_target_value(vdir):
    """Self-test hook: changes one temperature in a stored target version."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    f = sorted(f for f in glob.glob(os.path.join(vdir, "*.parquet")) if os.path.getsize(f) > 0)
    for path in f:
        t = pq.read_table(path)
        if t.num_rows:
            temps = t.column("temperature").to_pylist()
            temps[0] = (temps[0] or 0.0) + 1.0
            i = t.schema.get_field_index("temperature")
            pq.write_table(t.set_column(i, "temperature", pa.array(temps, pa.float64())), path)
            return


# ------------------------------------------------------------------- main

def metric_names(kind):
    """(name, unit) of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def run(args):
    root = os.getcwd()
    base = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    cp, src_key = build(root, base)
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    meta = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "src": src_key, "git_rev": git_rev(root)}
    try:
        return run_in(args, cp, base, work, meta)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def git_rev(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "--short", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_in(args, cp, base, work, meta):
    wl = args.workload
    g0 = time.time()
    jargs = ["--workload", wl, "--work", work, "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--out", os.path.join(work, "result.json")]
    if wl.startswith("etl"):
        p = dict(gen.ETL[wl])
        if args.tiny:
            p.update(cities=3, ticks=min(p["ticks"], 60))
        ticks = gen.etl_ticks(args.seed, **p)
        tdir = os.path.join(work, "ticks")
        payload_bytes = gen.write_ticks(tdir, ticks)
        jargs += ["--ticks", tdir, "--tpb", str(p["ticks_per_batch"])]
        meta["traffic"] = p
    else:
        d = dict(BOARD_DATA[wl])
        if args.tiny:
            d = dict(sf=0.0002)
        ddir = board_data(base, d)
        order = list(BOARD_SQL if wl == "board_sql" else BOARD_LLM)
        random.Random(args.seed).shuffle(order)
        jargs += ["--data", ddir, "--queries", ",".join(order)]
        if args.dump:
            jargs += ["--dump", os.path.abspath(args.dump)]
        meta["data"] = d
    meta["input_gen_s"] = round(time.time() - g0, 3)

    win = Window()
    j0 = time.time()
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        try:
            r = subprocess.run(["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                                                     "perfbench.PerfBench"] + jargs,
                               stdout=lf, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise Fail(f"JVM did not finish within {JVM_TIMEOUT_S}s")
    meta.update(win.close())
    meta["jvm_s"] = round(time.time() - j0, 3)
    res_path = os.path.join(work, "result.json")
    if r.returncode != 0 or not os.path.exists(res_path):
        with open(logf) as f:
            raise Fail(f"JVM exited {r.returncode}:\n" + f.read()[-4000:])
    with open(res_path) as f:
        res = json.load(f)
    if "error" in res:
        with open(logf) as f:
            tail = f.read()[-3000:]
        raise Fail(f"workload error: {res['error']}\n{tail}")
    meta["cores"] = res["cores"]
    meta["heap"] = {"jvm_opts": " ".join(JVM_OPTS[:4]), "max_heap_mb": round(res["max_heap_mb"], 1)}
    meta["setup_phases_s"] = res["setup_phases_s"]
    m = {"setup_s": res["setup_s"], "live_heap_mb": res["live_heap_mb"]}
    problems = []
    layer = {}
    if wl.startswith("etl"):
        out = res["result"]
        warm = res.get("warmup", {"batches": [], "errors": []})
        problems += warm["errors"] + out["errors"]
        bs = out["batches"]
        if len(bs) < 2:
            raise Fail(f"only {len(bs)} micro-batches completed: {problems[:3]}")
        lat = [b["duration_ms"]["triggerExecution"] for b in bs]
        rows = sum(len(f) for f in ticks[:bs[-1]["end_tick"]])
        # steady drain rate: payload rows of batches 2..n over the time
        # from the end of batch 1 to the end of batch n (no stream start-up)
        end = [b["start_ms"] + b["duration_ms"]["triggerExecution"] for b in bs]
        steady = sum(len(f) for f in ticks[bs[0]["end_tick"]:bs[-1]["end_tick"]])
        m["rows_per_s"] = steady / ((end[-1] - end[0]) / 1e3)
        m["batch_ms_p50"] = median(lat)
        m["batch_ms_p90"] = pct(lat, 0.9)
        # the cold start: the warm-up drain's batches, from the first one on
        m["first_pass_s"] = sum(b["duration_ms"]["triggerExecution"] for b in warm["batches"] or bs[:1]) / 1e3
        # a pass = 5 consecutive micro-batches; median over every window
        groups = [sum(lat[i:i + 5]) / 1e3 for i in range(len(lat) - 4)]
        m["pass_s"] = median(groups) if groups else sum(lat) / 1e3
        if args.corrupt:
            flip_target_value(os.path.join(out["store"], f"v={bs[-1]['id']}"))
        probs, layer = etl_check(out, ticks, payload_bytes)
        problems += probs
        # one op per micro-batch, committed or failed, plus the final check
        attempted = len(warm["batches"]) + len(warm["errors"]) + len(bs) + len(out["errors"]) + 1
        failed = len(warm["errors"]) + len(out["errors"]) + (1 if probs else 0)
        meta.update(batches=len(bs), warmup_batches=len(warm["batches"]),
                    ticks_done=bs[-1]["end_tick"], rows=rows,
                    drain_s=round(out["drain_s"], 3), exhausted=out["exhausted"],
                    pass_samples=len(groups), batch_ms=[round(x) for x in lat],
                    warmup_batch_ms=[round(b["duration_ms"]["triggerExecution"]) for b in warm["batches"]])
        if args.trace:
            u = statistics.mean(median([b["duration_ms"]["triggerExecution"] for b in d["batches"]])
                                for d in res["untraced"])
            meta["trace_overhead"] = {"untraced_batch_ms_p50": u, "traced_batch_ms_p50": median(lat),
                                      "delta_ms": median(lat) - u}
    else:
        pins = {}
        if not args.tiny:
            with open(os.path.join(HERE, "pins.json")) as f:
                pins = json.load(f)
        if args.corrupt:
            res["first"][0]["digest"] = "0" * 64
        execs = [(q, 0) for q in res["first"]] + [
            (q, i + 1) for i, p in enumerate(res["passes"] + res.get("untraced", []))
            for q in p["queries"]]
        names = res["order"]
        failed = 0
        for k, (q, pn) in enumerate(execs):
            name = names[k % len(names)]
            pin = pins.get(name)
            bad = None
            if "error" in q:
                bad = q["error"]
            elif args.tiny:
                first = res["first"][k % len(names)]
                if q["digest"] != first.get("digest"):
                    bad = "digest differs from the first pass"
            elif pin is None:
                bad = "no pinned digest"
            elif q["rows"] != pin["rows"] or q["digest"] != pin["digest"]:
                bad = f"rows {q['rows']} digest {q['digest'][:12]} != pinned rows {pin['rows']} digest {pin['digest'][:12]}"
            if bad:
                failed += 1
                problems.append(f"{name} (pass {pn}): {bad}")
        attempted = len(execs)
        passes = [p["s"] for p in res["passes"]]
        lat = [q["s"] * 1e3 for p in res["passes"] for q in p["queries"]]
        m["first_pass_s"] = sum(q["s"] for q in res["first"])
        m["pass_s"] = median(passes)
        m["batch_ms_p50"] = median(lat)
        m["batch_ms_p90"] = pct(lat, 0.9)
        m["rows_per_s"] = sum(q.get("rows", 0) for q in res["first"]) / m["pass_s"]
        meta.update(queries=len(names), passes=len(passes),
                    query_s=[{n: round(q["s"], 3) for n, q in zip(names, p["queries"])}
                             for p in [{"queries": res["first"]}] + res["passes"]])
        if args.trace:
            u = statistics.mean(p["s"] for p in res["untraced"])
            meta["trace_overhead"] = {"untraced_pass_s": u, "traced_pass_s": median(passes),
                                      "delta_s": median(passes) - u}
    meta["fail_ratio"] = failed / attempted
    for pr in problems[:20]:
        log("CHECK FAILED " + pr)
    if args.trace:
        tr = res.get("trace", {})
        tr.update(layer)
        print_trace(tr, wl)
        metrics = {n: {"value": float(tr.get(n, 0.0)), "unit": u} for n, u in metric_names("per_layer")}
    else:
        metrics = {n: {"value": float(m[n]), "unit": u} for n, u in metric_names("end_to_end")}
    print("meta " + json.dumps(meta, sort_keys=True))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def print_trace(tr, wl):
    wall = tr.get("wall_ms", 0.0)
    print(f"self time by layer ({wl}, traced window {wall:.0f} ms):")
    for k, v in tr.get("self_ms", {}).items():
        print(f"  {k:<28} {v:10.1f} ms  {100 * v / wall if wall else 0:5.1f} %")
    print(f"  {'(sum)':<28} {sum(tr.get('self_ms', {}).values()):10.1f} ms")
    for n, u in metric_names("per_layer"):
        print(f"  {n:<28} {float(tr.get(n, 0.0)):14.4f} {u}")
    if "spans_file" in tr:
        keep = os.path.join(os.path.dirname(os.path.dirname(tr["spans_file"])), f"spans-{wl}.jsonl")
        shutil.move(tr["spans_file"], keep)
        print(f"spans: {tr['spans']} written to {keep}")


def board_data(base, d):
    """Board tables, generated once per generator version and size."""
    h = hashlib.sha256(json.dumps(d, sort_keys=True).encode())
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        h.update(f.read())
    out = os.path.join(base, "data-" + h.hexdigest()[:12])
    if not os.path.exists(os.path.join(out, ".done")):
        shutil.rmtree(out, ignore_errors=True)
        gen.board_tables(out, **d)
        open(os.path.join(out, ".done"), "w").close()
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test size")
    ap.add_argument("--dump", help="write first-pass board results as parquet here")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt one output before checking it")
    args = ap.parse_args()
    try:
        result = run(args)
    except Fail as e:
        log(f"error: {e}")
        sys.exit(2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
