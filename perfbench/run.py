#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload medallion|registry \\
        --seed N --seconds S --trace 0|1

Run it from the repository root. It builds the engine and the benchmark's
JVM side with sbt (once per source state, kept under `.bench_build/`), then
runs passes of the workload, each in a fresh JVM on `local[<cpus>]` with one
client, checks every output, and prints one line per metric with its unit
and, as the last line, a JSON object with `correct`, `attempted`, `failed`
and `metrics`.

Workloads (why each one is here is in BENCHMARK.json):
  medallion  a seeded raw stooq universe through etl, ml and backtest, one
             timed chain; outputs checked against the generator's injected
             defect counts and against DuckDB over the layers' SQL
  registry   a fixed list of registered research and curation queries in
             a seeded order over the fixture; outputs checked against each
             query's oracle SQL in DuckDB

A pass is a fresh JVM because a nightly run pays session start, JIT and the
shared-stage builds every time. Passes repeat while another one fits in
`--seconds`; metrics are medians over passes.

`--trace 1` runs an untraced pass and then a traced one, and prints the
per-layer metrics of the traced pass. Its tracing overhead is the traced
pass's wall_s against the untraced pass's. Spans and counters go to
`.bench_build/traces/`; every run's stamp and numbers to
`.bench_build/results/`.

A failed call or a failed output check makes the command exit non-zero.
"""
import argparse
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
import time

import universe

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build")

# Raw-universe size in bars. The fixture the old bench timed has 100 k;
# a fresh-JVM pass over that many takes ~2 min here, past the run budget.
MEDALLION_BARS = 4_000
# Fixture scale the registry workloads read (a row of TESTDATA.md).
FIXTURE_SF = "0.01"

# The registry workload's fixed query list: one query from each of the
# research-side families (ResearchQueries, MlQueries, ValidationQueries,
# CompareQueries, BacktestQueries2) and the curation-side families
# (TextQueries, DedupQueries, AnnQueries, MultimodalQueries,
# CurationQueries), the one ROADMAP names where that is affordable. A
# round of runs of both workloads must stay within the benchmark's time
# budget, so the costlier named queries are left out: q_cluster_metrics
# (~20 s in a fresh JVM), q_e_ivfpq_res_gain (~30 s), q_hmm_sweep (~6 s)
# and q_bt_walk_forward (~5 s); the medallion chain times the walk-forward
# and HMM layers themselves. The full families take ~350 s (research) and
# ~500 s (curation) per pass at local[4].
REGISTRY = [
    "q_bootstrap_ci", "q_hmm_transitions", "q_cluster_hardening",
    "q_compare_hardening", "q_bt_edge",
    "q_t_tokens", "q_d_winnow_align", "q_e_cosine_topk", "q_m_media_meta",
    "q_t_pii",
]
# Queries ROADMAP names; the trace file carries their own numbers.
NAMED = ["q_cluster_metrics", "q_bootstrap_ci", "q_cluster_hardening",
         "q_compare_hardening", "q_e_ivfpq_res_gain", "q_bt_walk_forward",
         "q_d_winnow_align", "q_hmm_sweep"]

FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]

# What the JVM needs when it starts outside spark-submit (the engine's
# build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# The pass JVM's heap, fixed (initial = maximum) so that peak_rss_mb does
# not follow the heap's growth policy or the machine's memory size.
HEAP = "4g"
# A pass that runs longer than this is killed and the run fails.
JVM_TIMEOUT = 170


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpus():
    return len(os.sched_getaffinity(0))


def git_commit():
    """HEAD of the checkout, when the checkout is a git work tree."""
    def git(*args):
        return subprocess.run(["git", "-C", ROOT, *args], capture_output=True,
                              text=True, timeout=10).stdout.strip()
    try:
        if os.path.realpath(git("rev-parse", "--show-toplevel") or "/") \
                != os.path.realpath(ROOT):
            return None
        return git("rev-parse", "HEAD") or None
    except (OSError, subprocess.SubprocessError):
        return None


def source_files():
    """Every file the two sbt builds compile from."""
    out = []
    for base in ("src/main", "perfbench/src", "project", "perfbench/project"):
        for d, subdirs, files in os.walk(os.path.join(ROOT, base)):
            subdirs[:] = sorted(s for s in subdirs
                                if s not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return out + [os.path.join(ROOT, "build.sbt"),
                  os.path.join(HERE, "build.sbt")]


def source_digest():
    """Names the build: the sources and where the checkout is (the saved
    classpath holds absolute paths)."""
    h = hashlib.sha256(ROOT.encode())
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(digest):
    """Compile the engine and the benchmark once per source state; return
    the runtime classpath. sbt compiles into the checkout's shared
    `target/` directories, which a build of other sources overwrites, so
    every classpath entry inside the checkout is copied into
    `.bench_build/build-<digest>/` and the saved classpath names the
    copies: a digest only ever runs its own classes."""
    d = os.path.join(STATE, f"build-{digest}")
    cp_file = os.path.join(d, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log(f"building (source digest {digest})")
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError(f"sbt build failed (exit {p.returncode})")
    # the copied classes must be those of the sources the digest names
    if source_digest() != digest:
        raise BenchError("sources changed during the build")
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp, root = [], os.path.realpath(ROOT) + os.sep
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        real = os.path.realpath(entry)
        if real.startswith(root):
            name = f"{i}-{os.path.basename(real)}"
            if os.path.isdir(real):
                shutil.copytree(real, os.path.join(tmp, name))
            else:
                shutil.copy2(real, os.path.join(tmp, name))
            entry = os.path.join(d, name)
        cp.append(entry)
    with open(os.path.join(tmp, "classpath.txt"), "w") as fh:
        fh.write(os.pathsep.join(cp))
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    log(f"built in {time.time() - t:.1f} s")
    return os.pathsep.join(cp)


def fixture_dir(sf):
    """The fixture directory TESTDATA.md lists for scale `sf`."""
    path = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.exists(path):
        raise BenchError("TESTDATA.md not found; it names the fixture")
    with open(path) as fh:
        for line in fh:
            m = re.match(r"\|\s*([0-9.]+)\s*\|\s*`([^`]+)`", line)
            if m and m.group(1) == sf:
                d = m.group(2).rstrip("/")
                missing = [t for t in FIXTURE_TABLES
                           if not os.path.exists(f"{d}/{t}.parquet")]
                if missing:
                    raise BenchError(f"fixture {d} lacks {missing}")
                return d
    raise BenchError(f"TESTDATA.md lists no sf {sf} fixture")


def run_jvm(cp, args, out, after_timed=None):
    """One fresh JVM; returns its result.json. `after_timed`, if given, is
    called with the JVM's timed.json as soon as the timed pass has ended,
    while the JVM writes its check outputs."""
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            "-Dlog4j2.configurationFile="
            + os.path.join(HERE, "log4j2.properties")]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--out", out, "--cpus", str(cpus()),
              "--t0-ms", str(int(time.time() * 1000))]
           + args)
    deadline = time.time() + JVM_TIMEOUT
    timed = os.path.join(out, "timed.json")
    with open(os.path.join(out, "jvm.log"), "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            while after_timed and p.poll() is None \
                    and not os.path.exists(timed) and time.time() < deadline:
                time.sleep(0.05)
            if after_timed and os.path.exists(timed):
                with open(timed) as t:
                    after_timed(json.load(t))
            p.wait(timeout=max(1.0, deadline - time.time()))
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    res_path = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.exists(res_path):
        with open(os.path.join(out, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BenchError(f"benchmark JVM exited {p.returncode}")
    with open(res_path) as fh:
        return json.load(fh)


def round_decimals(sql):
    """The decimal places `d` of every `round(x, d)` in `sql`."""
    out = set()
    for m in re.finditer(r"\bround\s*\(", sql, re.I):
        j, depth, comma = m.end(), 1, None
        while depth and j < len(sql):
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
            elif sql[j] == "," and depth == 1:
                comma = j
            j += 1
        if not depth and comma is not None \
                and sql[comma + 1:j - 1].strip().isdigit():
            out.add(int(sql[comma + 1:j - 1]))
    return out


def _same_value(a, b, decimals):
    """Whether a Spark value and the oracle's agree. Doubles may differ by
    one unit in the last place, and two values that are both rounded to `d`
    decimals, for a `d` the oracle SQL rounds to, by one unit in the d-th
    decimal: DuckDB 1.0 rounds a double through x * 10^d in binary, whose
    rounding error can carry it past the half-way point, so that
    round(2539203635.9511003, 6) gives 2539203635.951101 where the exact
    rounding (the engine's) is 2539203635.9511. Everything else must be
    equal."""
    if not (isinstance(a, float) and isinstance(b, float)):
        return a == b
    slack = math.ulp(max(abs(a), abs(b)))
    return abs(a - b) <= slack or any(
        abs(a - b) <= 10.0 ** -d + slack
        and round(a, d) == a and round(b, d) == b for d in decimals)


def _compare(con, name, spark_path, oracle_table, decimals, cols="*"):
    """Multiset compare on name-sorted columns (EXCEPT ALL both ways) of
    `cols` of the Spark output against the oracle, allowing integer-width
    type differences and, for doubles, the rounding differences of
    `_same_value`; returns an error message or None."""
    try:
        return _compare_or_raise(con, name, spark_path, oracle_table,
                                 decimals, cols)
    except Exception as e:  # a missing or unreadable output
        return f"{name}: {type(e).__name__}: {str(e)[:300]}"


def _compare_or_raise(con, name, spark_path, oracle_table, decimals,
                       cols):
    con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT {cols} FROM "
                f"read_parquet('{spark_path}/*.parquet')")
    st = {r[0]: r[1] for r in con.execute("DESCRIBE s").fetchall()}
    dt = {r[0]: r[1] for r in con.execute(
        f"DESCRIBE {oracle_table}").fetchall()}
    if sorted(st) != sorted(dt):
        return f"{name}: columns spark={sorted(st)} oracle={sorted(dt)}"
    ints = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}
    bad = [c for c in st if st[c] != dt[c]
           and not (st[c] in ints and dt[c] in ints)]
    if bad:
        return f"{name}: types differ on {bad}"
    n_s = con.execute("SELECT count(*) FROM s").fetchone()[0]
    n_o = con.execute(f"SELECT count(*) FROM {oracle_table}").fetchone()[0]
    if n_s != n_o:
        return f"{name}: rows spark={n_s} oracle={n_o}"
    if n_s == 0:
        return f"{name}: empty output"
    # order the leftovers by the exact columns first so that rows pair up
    order = sorted(st, key=lambda c: (st[c] == "DOUBLE", c))
    cols = ", ".join(f'"{c}"' for c in order)
    left = [con.execute(f"SELECT * FROM (SELECT {cols} FROM {a} EXCEPT ALL "
                        f"SELECT {cols} FROM {b}) ORDER BY ALL").fetchall()
            for a, b in (("s", oracle_table), (oracle_table, "s"))]
    if len(left[0]) != len(left[1]) or not all(
            _same_value(a, b, decimals)
            for ra, rb in zip(*left) for a, b in zip(ra, rb)):
        return (f"{name}: spark-only={len(left[0])} "
                f"oracle-only={len(left[1])} e.g. {left[0][:1]} vs "
                f"{left[1][:1]}")
    return None


_CTE_HEAD = re.compile(r"(\w+)\s+AS\s+(?:MATERIALIZED\s+)?\(", re.I)


def _skip_gap(text, i):
    """Skip whitespace, commas and `--` comments."""
    while i < len(text):
        if text[i] in " \t\r\n,":
            i += 1
        elif text.startswith("--", i):
            i = text.find("\n", i) + 1 or len(text)
        else:
            break
    return i


def cte_list(text):
    """Split a CTE list `a AS (...), b AS (...)` into (name, body) pairs,
    matching parentheses outside string literals and `--` comments."""
    out, i = [], _skip_gap(text, 0)
    while i < len(text):
        m = _CTE_HEAD.match(text, i)
        if not m:
            raise BenchError(f"cannot split CTE list at: {text[i:i + 60]!r}")
        j, depth = m.end() - 1, 0
        while True:
            if text.startswith("--", j):
                j = text.index("\n", j)
            elif text[j] == "'":
                j = text.index("'", j + 1)
            elif text[j] == "(":
                depth += 1
            elif text[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        out.append((m.group(1), text[m.end() - 1:j + 1]))
        i = _skip_gap(text, j + 1)
    return out


def medallion_oracle(data_dir, oracle):
    """Evaluate the medallion oracle in DuckDB over the generated valid
    bars. Every CTE of the layers' SQL becomes a table once, in order, so
    no recursion runs twice; each check's select then reads those tables
    into `oracle_<name>`."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {cpus()}")
    con.execute(f"CREATE VIEW input_bars AS SELECT * FROM read_parquet("
                f"'{data_dir}/input_bars.parquet')")
    t0 = time.time()
    for fragment in oracle["fragments"]:
        for name, body in cte_list(fragment):
            rec = "RECURSIVE " if re.search(rf"\b{name}\b", body) else ""
            con.execute(f"CREATE TABLE {name} AS (WITH {rec}{name} AS "
                        f"{body} SELECT * FROM {name})")
    for name, sql in oracle["selects"].items():
        con.execute(f"CREATE TABLE oracle_{name} AS ({sql})")
    log(f"medallion oracle evaluated in {time.time() - t0:.1f} s")
    return con


def check_medallion(pass_dir, data_dir, con, timed):
    """Bronze flag counts against what the generator injected; every other
    layer against the DuckDB oracle; the fits, which have no oracle, by row
    count. Returns the errors and Bronze's counts."""
    errors = []
    layers = os.path.join(pass_dir, "layers")
    try:
        got = _check_counts(con, layers, data_dir, timed["fits"], errors)
    except Exception as e:  # a layer that was not written
        errors.append(f"bronze and fits: {type(e).__name__}: {str(e)[:300]}")
        got = {}
    oracle = timed["oracle_sql"]
    decimals = round_decimals(" ".join(oracle["fragments"])
                              + " ".join(oracle["selects"].values()))
    for name in sorted(oracle["selects"]):
        if name in oracle["written"]:
            err = _compare(con, name, os.path.join(layers, name),
                           f"oracle_{name}", decimals, ", ".join(
                               f'"{r[0]}"' for r in con.execute(
                                   f"DESCRIBE oracle_{name}").fetchall()))
        else:
            err = _compare(con, name, os.path.join(pass_dir, "check", name),
                           f"oracle_{name}", decimals)
        if err:
            errors.append(err)
    return errors, got


def _check_counts(con, layers, data_dir, fits, errors):
    """Bronze's flag counts and the fits' row counts, read from the
    written layers; appends to `errors` and returns Bronze's counts."""
    with open(os.path.join(data_dir, "expected.json")) as fh:
        exp = json.load(fh)["bronze"]
    flags = sorted(f for f in exp if f != "rows")
    got = dict(zip(["rows"] + flags, con.execute(
        f"SELECT count(*), {', '.join(f'count_if({f})' for f in flags)} "
        f"FROM read_parquet('{layers}/bronze/**/*.parquet', "
        f"hive_partitioning = true)").fetchone()))
    errors += [f"bronze.{f}: spark={got[f]} injected={n}"
               for f, n in sorted(exp.items()) if got[f] != n]
    for fit in ("clusters", "hmm_states"):
        fitted = " AND ".join(f"{c} IS NOT NULL" for c in fits[fit])
        want = con.execute(f"SELECT count(*) FROM read_parquet("
                           f"'{layers}/labels/*.parquet') WHERE {fitted}"
                           ).fetchone()[0]
        n = con.execute(f"SELECT count(*) FROM read_parquet("
                        f"'{layers}/{fit}/*.parquet')").fetchone()[0]
        if not 0 < n == want:
            errors.append(f"{fit}: rows={n} fitted input rows={want}")
    k = con.execute(f"SELECT count(DISTINCT cluster) FROM read_parquet("
                    f"'{layers}/clusters/*.parquet')").fetchone()[0]
    if not 1 <= k <= fits["k"]:
        errors.append(f"clusters: {k} cluster ids for k={fits['k']}")
    return got


def oracle_file(name, sql, fixture):
    """Cached DuckDB result of one oracle query over the fixture; the key
    covers the SQL text and the fixture files, so a changed query or
    fixture is evaluated afresh."""
    h = hashlib.sha256(sql.encode())
    for t in FIXTURE_TABLES:
        st = os.stat(f"{fixture}/{t}.parquet")
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(STATE, "oracle", f"{name}-{h.hexdigest()[:16]}.parquet")
    if not os.path.exists(path):
        import duckdb
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in FIXTURE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{fixture}/{t}.parquet')")
        t0 = time.time()
        con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT PARQUET)")
        os.replace(f"{path}.tmp", path)
        log(f"oracle {name}: {time.time() - t0:.1f} s")
    return path


def check_registry(res, pass_dir, fixture):
    """Each query's output against its oracle SQL over the fixture; every
    registry query has one."""
    import duckdb
    errors = []
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture}/{t}.parquet')")
    oracle = res["checks"]["oracle_sql"]
    rows = 0
    for step in res["steps"]:
        if not step["ok"]:
            continue
        q = step["name"]
        out = os.path.join(pass_dir, "check", q)
        if not os.path.isdir(out):
            errors.append(f"{q}: no output written")
            continue
        n = con.execute(f"SELECT count(*) FROM read_parquet("
                        f"'{out}/*.parquet')").fetchone()[0]
        rows += n
        if q not in oracle:
            err = f"{q}: no oracle SQL to check it against"
        else:
            try:
                expected = oracle_file(q, oracle[q], fixture)
                con.execute(f"CREATE OR REPLACE TEMP TABLE o AS SELECT * "
                            f"FROM read_parquet('{expected}')")
                err = _compare(con, q, out, "o", round_decimals(oracle[q]))
            except Exception as e:  # the oracle SQL itself failed
                err = f"{q}: oracle: {type(e).__name__}: {str(e)[:300]}"
        if err:
            errors.append(err)
    return errors, rows


# ---------------------------------------------------------------- metrics

def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n). With eleven or fewer samples that is the
    smallest one."""
    v = sorted(values)
    n = len(v)
    i = max(0, n - 11)
    return v[i], 100.0 * (i + 1) / n, n


def pass_metrics(res, n_rows):
    steps = [s for s in res["steps"] if s["ok"]]
    times = [s["busy_s"] for s in steps] or [float("nan")]
    wall = res["checks"]["wall_s"]
    t, pct, n = tail(times)
    return {
        "wall_s": wall,
        "cpu_s": res["checks"]["cpu_s"],
        "rows_per_s": n_rows / wall,
        "peak_rss_mb": res["checks"]["peak_rss_mb"],
    }, {"query_p50_s": statistics.median(times), "query_tail_s": t,
        "query_tail_pct": pct, "calls": n}


def metrics_spec():
    """BENCHMARK.json's metric lists: their names and units are the ones
    this command prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def per_layer(names, res, bronze, overhead):
    """Every per-layer metric in `names` (`<layer>.<counter>`); a layer
    that does not run on this workload reads 0."""
    tr, out = res["trace"], {}
    for name in names:
        layer, counter = name.rsplit(".", 1)
        if name == "etl.bronze.valid_ratio":
            out[name] = (bronze["is_valid_row"] / bronze["rows"]
                         if bronze.get("rows") else 0.0)
        elif name == "trace.overhead_ratio":
            out[name] = overhead
        elif layer == "total":
            out[name] = tr["total"][counter]
        else:
            out[name] = tr["layers"].get(layer, {}).get(counter, 0.0)
    return out


# ---------------------------------------------------------------- main

def prepare_input(workload, seed, work):
    if workload == "medallion":
        data = os.path.join(work, "data")
        t = time.time()
        lines = universe.generate(data, seed, MEDALLION_BARS)
        log(f"generated {lines} raw lines in {time.time() - t:.1f} s")
        return os.path.join(data, "raw"), [], data
    fixture = fixture_dir(FIXTURE_SF)
    queries = list(REGISTRY)
    random.Random(seed).shuffle(queries)
    return fixture, ["--queries", ",".join(queries)], fixture


def record(workload, seed, trace, stamp, values):
    """Keep every run's stamp and numbers."""
    d = os.path.join(STATE, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{workload}-s{seed}-t{trace}.json"), "w") as fh:
        json.dump({"stamp": stamp, "values": values}, fh, indent=1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["medallion", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ("build.sbt", "src/main", "TESTDATA.md"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"{need} not found: run from a full checkout")

    stamp = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
             "cpus": cpus(), "heap": HEAP,
             "loadavg_start": loadavg(), "commit": git_commit()}
    digest = source_digest()
    stamp["source_digest"] = digest
    os.makedirs(STATE, exist_ok=True)
    cp = build(digest)

    work = os.path.join(STATE, "work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        input_dir, extra, data = prepare_input(a.workload, a.seed, work)
        base = ["--workload", a.workload, "--input", input_dir] + extra

        oracle = {}

        def evaluate_oracle(timed):
            if a.workload == "medallion" and "con" not in oracle:
                oracle["timed"] = timed
                oracle["con"] = medallion_oracle(data, timed["oracle_sql"])

        def one_pass(traced):
            d = os.path.join(work, f"pass{len(passes)}")
            t = time.time()
            res = run_jvm(cp, base + ["--trace", "1" if traced else "0"], d,
                          after_timed=evaluate_oracle)
            log(f"pass {len(passes)} took {time.time() - t:.1f} s "
                f"(set-up {res['setup_s']:.1f} s, timed "
                f"{res['checks']['wall_s']:.1f} s)")
            passes.append((d, res))

        passes = []
        if a.trace:
            # the tracing overhead's reference: an untraced pass of the
            # same build and inputs, just before the traced one
            one_pass(False)
            one_pass(True)
        else:
            spent = 0.0
            while True:
                t = time.time()
                one_pass(False)
                last = time.time() - t
                spent += last
                if spent + last > a.seconds:
                    break
        setups = [r["setup_s"] for _, r in passes]

        errors, attempted, failed, samples = [], 0, 0, []
        bronze = {}
        t = time.time()
        for d, res in passes:
            steps = res["steps"]
            attempted += len(steps)
            bad = [s for s in steps if not s["ok"]]
            failed += len(bad)
            errors += [f"call {s['name']} failed: {s['error']}" for s in bad]
            errors += [f"timed sink skipped columns: {e}"
                       for e in res["checks"]["sink_errors"]]
            if a.workload == "medallion":
                errs, bronze = check_medallion(d, data, oracle["con"],
                                               oracle["timed"])
                with open(os.path.join(data, "expected.json")) as fh:
                    n_rows = json.load(fh)["lines"]
            else:
                errs, n_rows = check_registry(res, d, data)
            attempted += 1
            if errs:
                failed += 1
                errors += errs
            samples.append(pass_metrics(res, n_rows))
        log(f"outputs checked in {time.time() - t:.1f} s")
        stamp["loadavg_end"] = loadavg()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = {k: statistics.median(m[k] for m, _ in samples)
           for k in samples[0][0]}
    e2e["setup_s"] = statistics.median(setups)
    calls = samples[-1][1]
    stamp.update(passes=len(passes), fail_ratio=failed / attempted,
                 errors=errors)

    print(f"[perfbench] {json.dumps(stamp)}")
    for s in passes[-1][1]["steps"]:
        busy = f"{s['busy_s']:.3f} s" if s["ok"] else "FAILED"
        print(f"[perfbench] {a.workload} call {s['name']} {busy}")
    e2e_units, layer_units = metrics_spec()
    if a.trace:
        traced = passes[-1][1]
        untraced = samples[0][0]["wall_s"]
        values = per_layer(layer_units, traced, bronze,
                           samples[-1][0]["wall_s"] / untraced - 1.0)
        units = layer_units
        path = os.path.join(STATE, "traces", f"{a.workload}-s{a.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"stamp": stamp, "untraced_wall_s": untraced,
                       "traced_wall_s": samples[-1][0]["wall_s"],
                       "per_layer": values,
                       "named_queries": {q: c for q, c in
                                         traced["trace"]["calls"].items()
                                         if q in NAMED},
                       "calls": traced["trace"]["calls"],
                       "layers": traced["trace"]["layers"],
                       "spans": traced["trace"]["spans"]}, fh, indent=1)
        print(f"[perfbench] trace written to {os.path.relpath(path, ROOT)}; "
              f"traced wall_s {samples[-1][0]['wall_s']:.3f} s vs untraced "
              f"{untraced:.3f} s")
    else:
        values = {k: e2e[k] for k in e2e_units}
        units = e2e_units
    for k, v in values.items():
        print(f"[perfbench] {a.workload} {k} = {v:.6g} {units[k]}")
    print(f"[perfbench] {a.workload} query_p50_s = "
          f"{calls['query_p50_s']:.6g} s, query_tail_s = "
          f"{calls['query_tail_s']:.6g} s (p{calls['query_tail_pct']:.1f} of "
          f"{calls['calls']} calls); fail_ratio = {failed / attempted:.6g} "
          f"ratio ({failed} of {attempted})")
    for e in errors:
        print(f"[perfbench] FAIL {e}")
    record(a.workload, a.seed, a.trace, stamp, dict(values, **calls))
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if errors else 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (BenchError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        sys.exit(2)
