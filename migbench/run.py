#!/usr/bin/env python3
"""Migration benchmark: the program migrates a seeded, MySQL-shaped source
(embedded Derby) into a real local PostgreSQL, in a closed loop, and the
result is checked against the source.

    python3 migbench/run.py --workload bulk_copy --seed 7 --seconds 25 --trace 0

Runs from the root of a checkout of the repository. It builds the harness
(and with it the program) from source on first use, starts a private
PostgreSQL under migbench/work/, runs one JVM, checks the output, stops
everything it started, and prints one JSON object as the last line of
stdout: correct, attempted, failed, metrics. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones, from a run that
records spans. Progress and logs go to stderr and migbench/work/.

Exit codes: 0 correct; 1 an output check failed (the JSON line says
correct: false) or the run failed (no JSON line); 2 bad usage or no
program sources here.

--fault corrupt_row|swap_row is for the benchmark's own tests: it damages
the target after the migration so the output check must fail.
"""
import argparse
import ctypes
import fcntl
import hashlib
import json
import os
import pwd
import shutil
import signal
import socket
import subprocess
import sys
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, "work")
RUN = os.path.join(WORK, "run")

WORKLOADS = ("bulk_copy", "many_tables")
# load: one JVM, local[N] with N = min(4, cpus - 1), leaving a core to
# PostgreSQL; maxParallel = N; at most N PostgreSQL connections (one pool
# shared by COPY and DDL)
CPUS = max(1, min(4, (os.cpu_count() or 1) - 1))
JVM_TIMEOUT_S = 170

END_TO_END = {
    "setup_s": "s", "migrate_s": "s", "data_rows_per_s": "rows/s",
    "data_mb_per_s": "MB/s", "compare_s": "s", "live_heap_mb": "MB",
}
PHASES = ("TableStructure", "TableData", "Sequence", "Index", "ForeignKey", "View", "Trigger")
PER_LAYER = dict(
    [(f"cli.{p}_s", "s") for p in PHASES] + [
        ("cli.data_concurrency", "share"), ("cli.data_straggler_s", "s"),
        ("catalog.calls", "count"), ("catalog.s", "s"), ("catalog.repeat_share", "share"),
        ("catalog.pages", "count"), ("catalog.empty_page_share", "share"),
        ("io.read_rows_per_s", "rows/s"), ("io.copy_rows", "count"), ("io.copy_bytes", "bytes"),
        ("io.copy_partitions", "count"), ("io.copy_wait_s", "s"), ("io.copy_self_s", "s"),
        ("io.encode_rows_per_s", "rows/s"), ("transform.s", "s"),
        ("transform.nul_values", "count"), ("ddlgen.self_s", "s"),
        ("ddlgen.statements", "count"), ("verify.source_count_s", "s"),
        ("verify.target_count_s", "s"), ("sink.ddl_s", "s"), ("sink.truncate_s", "s"),
        ("sink.rowcount_s", "s"), ("spark.jobs", "count"), ("spark.jobs_per_table", "count"),
        ("spark.tasks", "count"), ("spark.task_s", "s"), ("spark.task_cpu_s", "s"),
        ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
        ("ops.plan_s", "s"), ("ops.exec_s", "s"), ("trace.migrate_s", "s"),
        ("trace.migrate_s.tail", "s")])

# Target flush policy, the same on every run: nothing is forced to disk,
# and no checkpoint or background write happens within a run. The
# benchmark measures the migration's own work, not this box's disk.
# Autovacuum is off: it vacuums and analyzes each freshly loaded table,
# and the next iteration's DROP/TRUNCATE then waits on it for up to
# deadlock_timeout, a random stall of about a second.
PG_SETTINGS = {
    "fsync": "off", "synchronous_commit": "off", "full_page_writes": "off",
    "wal_level": "minimal", "max_wal_senders": "0", "shared_buffers": "256MB",
    "checkpoint_timeout": "30min", "max_wal_size": "4GB", "bgwriter_lru_maxpages": "0",
    "autovacuum": "off",
    "max_connections": "20", "max_parallel_workers_per_gather": "0",
    "dynamic_shared_memory_type": "mmap", "log_min_messages": "warning",
}

# Spark on JDK 17 outside spark-submit needs these (as the program's build).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[migbench] {msg}", file=sys.stderr, flush=True)


def die_with_parent():
    """Child processes get SIGKILL if this process dies first."""
    try:
        ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except OSError:
        pass


def source_stamp():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles program and harness with sbt once per source state; returns
    the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old, cp = f.read().split("\n", 1)
        if old == stamp:
            return cp.strip()
    log("building program and harness with sbt")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as lf:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export harness/Runtime/fullClasspath"],
                           cwd=HARNESS, stdout=subprocess.PIPE, stderr=lf, text=True,
                           timeout=840, preexec_fn=die_with_parent)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "migbench" not in lines[-1]:
        raise RuntimeError(f"sbt build failed (rc={p.returncode}); see {WORK}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def pg_bindir():
    try:
        return subprocess.run(["pg_config", "--bindir"], capture_output=True, text=True,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return os.path.dirname(shutil.which("pg_ctl") or "pg_ctl")


class Postgres:
    """A private PostgreSQL cluster under `base`, trust auth, owned by the
    'postgres' account's uid. As root the server cannot run as root, so it
    runs in a user namespace that maps root to that uid (files stay
    reachable inside the checkout), or else under setpriv."""

    def __init__(self, base):
        self.base = base
        self.data = os.path.join(base, "pgdata")
        self.bindir = pg_bindir()
        self.port = 5432
        self.host = os.path.join(base, "sock")
        if len(self.host) + 16 > 100:  # unix socket paths are capped at 107 bytes
            with socket.socket() as s:
                s.bind(("127.0.0.1", 0))
                self.port = s.getsockname()[1]
            self.host = "127.0.0.1"
        self.pid = None
        self.prefix = self._owner_prefix()

    def _owner_prefix(self):
        if os.geteuid() != 0:
            return []
        pw = pwd.getpwnam("postgres")
        ns = ["unshare", "--user", f"--map-user={pw.pw_uid}", f"--map-group={pw.pw_gid}"]
        if subprocess.run(ns + ["true"], capture_output=True).returncode == 0:
            return ns
        os.chown(self.base, pw.pw_uid, pw.pw_gid)
        return ["setpriv", f"--reuid={pw.pw_uid}", f"--regid={pw.pw_gid}", "--clear-groups"]

    def _run(self, args, **kw):
        return subprocess.run(self.prefix + args, capture_output=True, text=True, **kw)

    def start(self):
        t0 = time.time()
        if self.host.startswith("/"):
            os.makedirs(self.host, exist_ok=True)
            os.chmod(self.host, 0o777)
        r = self._run([os.path.join(self.bindir, "initdb"), "-D", self.data, "-U", "postgres",
                       "--auth=trust", "-E", "UTF8", "--locale=C", "-N"], timeout=120)
        if r.returncode != 0:
            raise RuntimeError("initdb failed: " + r.stdout + r.stderr)
        settings = dict(PG_SETTINGS, port=str(self.port))
        if self.host.startswith("/"):
            settings.update(unix_socket_directories=f"'{self.host}'", listen_addresses="''")
        else:
            settings.update(unix_socket_directories="''", listen_addresses="'127.0.0.1'")
        with open(os.path.join(self.data, "postgresql.conf"), "a") as f:
            f.writelines(f"{k} = {v}\n" for k, v in settings.items())
        r = self._run([os.path.join(self.bindir, "pg_ctl"), "-D", self.data, "-l",
                       os.path.join(self.base, "pg.log"), "-w", "-t", "60", "start"], timeout=90)
        with open(os.path.join(self.data, "postmaster.pid")) as f:
            self.pid = int(f.readline())
        if r.returncode != 0:
            raise RuntimeError("pg_ctl start failed: " + r.stdout + r.stderr)
        log(f"postgres up in {time.time() - t0:.1f} s (pid {self.pid})")

    def stop(self):
        if self.pid is None:
            return
        self._run([os.path.join(self.bindir, "pg_ctl"), "-D", self.data, "-m", "fast", "-w",
                   "-t", "30", "stop"], timeout=60)
        deadline = time.time() + 30
        while os.path.exists(f"/proc/{self.pid}"):
            if time.time() > deadline:
                os.kill(self.pid, signal.SIGKILL)
            time.sleep(0.05)
        self.pid = None

    def psql(self, sql):
        """Rows of tab-separated text; raises on any SQL error."""
        r = subprocess.run([os.path.join(self.bindir, "psql"), "-X", "-q", "-A", "-t", "-F", "\t",
                            "-h", self.host, "-p", str(self.port), "-U", "postgres",
                            "-d", "postgres", "-v", "ON_ERROR_STOP=1", "-f", "-"],
                           input=sql, capture_output=True, text=True, timeout=120)
        if r.returncode != 0:
            raise RuntimeError(f"psql failed: {r.stderr.strip()}")
        return [l.split("\t") for l in r.stdout.splitlines() if l]


def q(ident):
    return '"' + ident.replace('"', '""') + '"'


def fingerprint_sql(table, cols):
    exprs = ["count(*)"]
    for c, fp in cols.items():
        x = q(c)
        exprs.append(f"count(*) - count({x})")
        kind = fp["kind"]
        if kind == "int":
            exprs.append(f"coalesce(sum({x}::numeric), 0)")
        elif kind == "dec":
            exprs.append(f"coalesce(sum({x}), 0)")
        elif kind == "dbl":
            exprs.append(f"coalesce(sum(floor({x} * 1000)::numeric), 0)")
        elif kind == "ts":
            exprs.append(f"coalesce(sum(extract(epoch from {x}) * 1000000), 0)")
        else:
            exprs.append(f"coalesce(sum(char_length({x})), 0)")
            exprs.append(f"coalesce(sum(char_length({x}) - char_length(translate({x}, "
                         f"E'\\t\\n\\r\\\\', ''))), 0)")
    return f"select {', '.join(exprs)} from {q(table)};"


CATALOG_SQL = {
    "indexes": "select count(*) from pg_indexes where schemaname = 'public'",
    "foreign_keys": "select count(*) from pg_constraint where contype = 'f'",
    "sequences": "select count(*) from pg_sequences where schemaname = 'public'",
    "views": "select count(*) from pg_views where schemaname = 'public'",
    "triggers": "select count(*) from pg_trigger where not tgisinternal",
}


def check_target(pg, result):
    """The output gate: every table's fingerprint computed in PostgreSQL
    equals the generated source's, and the catalog objects exist. Returns
    a list of mismatches."""
    bad = []
    fps = result["fingerprints"]
    tables = sorted(fps)
    rows = pg.psql("\n".join(fingerprint_sql(t, fps[t]["columns"]) for t in tables))
    if len(rows) != len(tables):
        return [f"expected {len(tables)} fingerprint rows, got {len(rows)}"]
    for t, row in zip(tables, rows):
        fp = fps[t]
        want = [str(fp["rows"])]
        for c in fp["columns"].values():
            want += [str(c["nulls"]), c["sum"]] + ([str(c["special"])] if c["kind"] == "str" else [])
        for i, (w, g) in enumerate(zip(want, row)):
            if Decimal(w) != Decimal(g):
                bad.append(f"{t}: field {i} source {w} target {g}")
                break
    for k, sql in CATALOG_SQL.items():
        got = int(pg.psql(sql + ";")[0][0])
        if got != result["catalog"][k]:
            bad.append(f"catalog {k}: source {result['catalog'][k]} target {got}")
    return bad


def inject(pg, result, fault):
    """Damages one target row, for the self-test of the output gate."""
    t = sorted(result["fingerprints"])[0]
    cols = result["fingerprints"][t]["columns"]
    if fault == "corrupt_row":
        c = next(c for c, fp in cols.items() if fp["kind"] == "int" and c != "id")
        pg.psql(f"update {q(t)} set {q(c)} = {q(c)} + 1 where ctid = "
                f"(select ctid from {q(t)} where {q(c)} is not null limit 1);")
    elif fault == "swap_row":  # same row count: the first row takes the second's values
        rest = ", ".join(q(c) for c in cols if c != "id")
        pg.psql(f"update {q(t)} set ({rest}) = (select {rest} from {q(t)} where id = "
                f"(select max(id) from (select id from {q(t)} order by id limit 2) x)) "
                f"where id = (select min(id) from {q(t)});")


def run_jvm(cp, a, pg):
    out = os.path.join(RUN, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # C1 only: C2 compilation competes with the migration for the first
    # minute on a 4-core box, and iteration times drift with it. C1 alone
    # gets a 48 MB code cache, which Spark's generated code fills about
    # 35 s in; the sweeper then evicts and the compiler recompiles for
    # several seconds, and one migration in each run took 1-2 s longer.
    # A 512 MB cache with no flushing keeps every compiled method (a run
    # uses ~50 MB); the JVM prints the cache's use at exit to jvm.log.
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UseCodeCacheFlushing", "-XX:+PrintCodeCache", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", f"-Xlog:gc:file={os.path.join(RUN, 'gc.log')}:uptime",
           f"-Djava.io.tmpdir={RUN}", "-Dspark.ui.enabled=false", *ADD_OPENS,
           "-cp", cp, "migbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", RUN, "--pg-host", pg.host,
           "--pg-port", str(pg.port), "--cpus", str(CPUS), "--out", out]
    with open(os.path.join(RUN, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=RUN, stdout=lf, stderr=subprocess.STDOUT,
                             preexec_fn=die_with_parent)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(RUN, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness JVM failed (rc={rc}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", choices=("corrupt_row", "swap_row"))
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        log(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
        return 2
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no program sources at {ROOT}: run from a checkout of the repository")
        return 2

    def stop(signum, _frame):
        raise SystemExit(128 + signum)
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, stop)

    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        log(f"another run holds {WORK}/lock")
        return 1
    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(RUN)
    try:
        cp = build()
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log(str(e))
        return 1
    pg = Postgres(RUN)
    try:
        pg.start()
        result = run_jvm(cp, a, pg)
        if a.fault:
            inject(pg, result, a.fault)
        bad = check_target(pg, result)
    except subprocess.TimeoutExpired:
        log(f"timed out; see {RUN}/jvm.log")
        return 1
    except RuntimeError as e:
        log(str(e))
        return 1
    finally:
        pg.stop()
        shutil.rmtree(os.path.join(RUN, "pgdata"), ignore_errors=True)
        shutil.rmtree(os.path.join(RUN, "spark-local"), ignore_errors=True)
    for b in bad[:20]:
        log("MISMATCH " + b)
    log(f"{a.workload} seed={a.seed}: {result['migrations']} migrations, "
        f"generate {result['generate_s']:.1f} s, setup {result['setup_s']:.1f} s")
    values, units = (result["end_to_end"], END_TO_END) if a.trace == 0 else (result["layers"], PER_LAYER)
    line = {
        "correct": not bad and result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
