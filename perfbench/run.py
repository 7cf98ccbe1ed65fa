#!/usr/bin/env python3
"""graft's benchmark: one command that builds graft from source, runs one
workload, checks every output, and prints every metric with its unit.

    python3 perfbench/run.py --workload stream_bulk --seed 1 --seconds 15 --trace 0

Run from the repository root. `--trace 0` measures the named workload and
prints the end-to-end metrics of BENCHMARK.json. `--trace 1` runs every
workload with spans recorded, plus stream_bulk at local[1], and prints
the per-layer metrics. `--smoke` shrinks every size (the benchmark's own
tests use it). The last line of standard output is the result JSON;
the full record also goes to .bench_build/results/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
JVM_TIMEOUT_S = 165
HEAP = "2g"
YOUNG = "512m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Everything the build reads: graft's sources and build, and ours."""
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(str(ROOT / p), recursive=True) if os.path.isfile(f))
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def build(stamp):
    """Compile graft and the benchmark once per source fingerprint; the
    runtime classpath is cached next to the fingerprint."""
    out = BUILD / "perfbench"
    cp_file, stamp_file = out / "classpath.txt", out / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    t = time.time()
    log = out / "build.log"
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=fh, stderr=subprocess.STDOUT, timeout=840).returncode
    lines = log.read_text().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {rc}); log: {log}")
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    print(f"[perfbench] built in {time.time() - t:.1f} s", file=sys.stderr)
    return cps[-1]


# -- oracle compare: the canonicalisation of tools/check_oracle.py ---------

def type_tag(t):
    import pyarrow as pa
    if pa.types.is_integer(t): return "int"
    if pa.types.is_floating(t): return "float"
    if pa.types.is_decimal(t): return "decimal"
    if pa.types.is_boolean(t): return "bool"
    if pa.types.is_timestamp(t) or pa.types.is_date(t): return "ts"
    if pa.types.is_string(t) or pa.types.is_large_string(t): return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t): return "bytes"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + type_tag(t.value_type) + ">"
    return str(t)


def norm(v, tg):
    if v is None:
        return None
    if tg == "float":
        if v != v:
            return "nan"
        v = round(v, 6)
        return 0.0 if v == 0 else v
    if tg == "ts":
        return str(v)
    if tg.startswith("list<"):
        return tuple(norm(x, tg[5:-1]) for x in v)
    return v


def canon(tbl):
    names = list(tbl.column_names)
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols = [tbl.column(i).to_pylist() for i in order]
    tags = [type_tag(tbl.schema.field(i).type) for i in order]
    rows = [tuple((tags[c], norm(cols[c][r], tags[c])) for c in range(len(cols)))
            for r in range(tbl.num_rows)]
    return [names[i] for i in order], tags, rows


def oracle_check(data_dir, verify_dir, oracles):
    """{query: None if the engine's result equals its DuckDB oracle, else why}."""
    import duckdb
    con = duckdb.connect()
    for p in sorted(Path(data_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    verdicts = {}
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(f"{verify_dir}/{name}/*.parquet"))
        if not files:
            verdicts[name] = "engine output missing"
            continue
        try:
            oc, otags, orows = canon(con.execute(sql).fetch_arrow_table())
        except Exception as e:  # an oracle that cannot run is a failed check
            verdicts[name] = f"oracle error: {str(e)[:200]}"
            continue
        ec, etags, erows = canon(con.execute(
            f"SELECT * FROM read_parquet({files})").fetch_arrow_table())
        if (oc, otags) != (ec, etags):
            verdicts[name] = f"columns differ: oracle={list(zip(oc, otags))} engine={list(zip(ec, etags))}"
        elif orows != erows:
            bad = sum(a != b for a, b in zip(orows, erows)) + abs(len(orows) - len(erows))
            verdicts[name] = f"{bad} of {len(orows)} rows differ"
        else:
            verdicts[name] = None
    con.close()
    return verdicts


# -- run --------------------------------------------------------------------

def run_jvm(cp, args, work, log_path):
    # a fixed-size heap and young generation under the parallel collector
    # keep resident memory from following the collector's adaptive sizing
    cmd = [shutil.which("java") or "java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    with open(log_path, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return -9
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main():
    # SIGTERM unwinds like an error, so the JVM is stopped and the work
    # directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail("BENCHMARK.json not found at the repository root")
    spec = json.loads(spec_path.read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for the benchmark's tests")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("graft's sources (build.sbt, src/main/scala/graft) are not here; nothing to build")
    load_start = os.getloadavg()
    cores = len(os.sched_getaffinity(0))  # what `nproc` reports
    files = source_files()
    stamp = fingerprint(files)
    cp = build(stamp)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = BUILD / "work" / run_id
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    try:
        data = work / "data"
        gen_s = 0.0
        sf = 0.001 if a.smoke else 0.01
        if a.trace or a.workload == "analytics_mix":
            sys.path.insert(0, str(HERE))
            import datagen
            data.mkdir()
            t = time.time()
            datagen.generate(str(data), sf, a.seed)
            gen_s = time.time() - t
        out = work / "record.json"
        log_path = results / f"{run_id}.log"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", str(data), "--work", str(work),
                "--out", str(out), "--cores", str(cores),
                "--smoke", "1" if a.smoke else "0"]
        rc = run_jvm(cp, args, work, log_path)
        if rc != 0 or not out.exists():
            sys.stderr.write("".join(open(log_path).readlines()[-60:]))
            fail(f"benchmark JVM failed (exit {rc}); log: {log_path}", 1)
        rec = json.loads(out.read_text())

        # the oracle check of every analytics_mix query, untimed
        for sec in rec["sections"]:
            if sec["name"] != "analytics_mix":
                continue
            notes = sec["notes"]
            verdicts = oracle_check(data, notes["verify_dir"], notes["oracle_sql"])
            verdicts.update({q: e for q, e in notes["verify_errors"].items()})
            notes["oracle"] = verdicts
            wrong = [q for q, v in verdicts.items() if v is not None]
            # a wrong result fails every timed execution not already counted
            sec["failed"] += sum(notes["passes"] - notes["threw"].get(q, 0)
                                 for q in wrong if q not in notes["verify_errors"])
            for q in wrong:
                print(f"[perfbench] {q}: result check failed: {verdicts[q]}", file=sys.stderr)

        sections = {s["name"]: s for s in rec["sections"]}
        if a.trace:
            chosen = rec["sections"]
            values = {}
            for s in rec["sections"]:
                values.update(s["layers"])
            values.update(rec["self_times"])
            wanted = spec["per_layer"]
        else:
            chosen = [sections[a.workload]]
            values = dict(sections[a.workload]["e2e"], peak_rss_mb=rec["peak_rss_mb"])
            wanted = spec["end_to_end"]
        attempted = sum(s["attempted"] for s in chosen)
        failed = sum(s["failed"] for s in chosen)
        metrics, missing = {}, []
        for m in wanted:
            v = values.get(m["name"])
            if v is None or v != v:
                missing.append(m["name"])
            else:
                metrics[m["name"]] = {"value": v, "unit": m["unit"]}

        load_end = os.getloadavg()
        rec["stamp"].update({
            "git_sha": git_sha(), "source_sha256": stamp, "source_files": len(files),
            "seed": a.seed, "workload": a.workload, "seconds": a.seconds, "trace": a.trace,
            "smoke": a.smoke, "loadavg_start": load_start, "loadavg_end": load_end,
            "nproc": cores, "datagen_s": gen_s, "datagen_sf": sf})
        rec["metrics"] = metrics
        rec["attempted"], rec["failed"] = attempted, failed
        spans = rec.pop("spans")
        (results / f"{run_id}.json").write_text(json.dumps(rec, indent=1, sort_keys=True))
        if a.trace:
            (results / f"{run_id}.spans.json").write_text(json.dumps(spans))

        width = max(len(k) for k in metrics) if metrics else 10
        for k, m in metrics.items():
            print(f"{k:<{width}}  {m['value']:>16.6g}  {m['unit']}")
        if not a.trace:
            sec = sections[a.workload]
            print("unscaled " + json.dumps(sec["raw"], sort_keys=True))
            print(f"host probe median {sec['notes'].get('probe_median_ms', float('nan')):.3f} ms")
        print("stamp " + json.dumps(rec["stamp"], sort_keys=True))
        if missing:
            fail(f"metrics not measured: {missing}", 1)
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
