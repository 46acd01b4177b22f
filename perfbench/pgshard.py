"""Lifecycle of the PostgreSQL 15 shards the federate workload runs against.

Each shard is a fresh cluster: ``initdb`` and ``postgres`` run as the
``postgres`` user, listen on 127.0.0.1 only (no Unix socket), and are
loaded from the seeded shard CSVs. The role and database are both named
``graft`` because the program's wire client always sends
``user=graft database=graft``. Durability is off (``fsync=off``,
``synchronous_commit=off``, ``full_page_writes=off``): the shards are
throwaway, and a benchmark of the program should not measure disk flushes.

Data directories live under ``.bench_build/pg`` in the checkout. When the
checkout sits below a directory the ``postgres`` user cannot search (for
example a home directory that only its owner may enter), the postgres
processes get ``CAP_DAC_READ_SEARCH`` as an ambient capability so they can
reach it; nothing else about their privileges changes. ``Shards`` is a context manager: on leaving it, even
by an exception or SIGTERM, every postgres process is stopped and waited
for and every data directory is removed.
"""

import os
import pwd
import shutil
import signal
import socket
import subprocess
import time



def pg_bin():
    """PostgreSQL's program directory, as ``pg_config`` reports it."""
    try:
        r = subprocess.run(["pg_config", "--bindir"], capture_output=True, text=True, check=True)
    except (OSError, subprocess.CalledProcessError):
        return None
    return r.stdout.strip()


PG_BIN = pg_bin()
SETTINGS = {
    "listen_addresses": "127.0.0.1",
    "unix_socket_directories": "",
    "fsync": "off",
    "synchronous_commit": "off",
    "full_page_writes": "off",
    "shared_buffers": "64MB",
    "max_connections": "50",
}


def as_postgres(cmd):
    """Run `cmd` as the postgres user (postgres refuses to run as root)."""
    if os.geteuid() != 0:
        return cmd
    return ["setpriv", "--reuid=postgres", "--regid=postgres", "--clear-groups",
            "--inh-caps=+dac_read_search", "--ambient-caps=+dac_read_search"] + cmd


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def psql(port, sql, db="graft"):
    subprocess.run([f"{PG_BIN}/psql", "-X", "-q", "-h", "127.0.0.1", "-p", str(port), "-U", "graft",
                    "-d", db, "-v", "ON_ERROR_STOP=1", "-c", sql],
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, timeout=120)


def reap_stale(pg_root):
    """Stop postgres processes and remove data left by a run that was killed."""
    if not os.path.isdir(pg_root):
        return
    for d in os.listdir(pg_root):
        run_dir = os.path.join(pg_root, d)
        owner = int(d.split("-")[1]) if d.startswith("run-") and d[4:].replace("-", "").isdigit() else -1
        if owner > 0 and os.path.exists(f"/proc/{owner}"):
            continue  # still in use by a live run
        for shard in os.listdir(run_dir) if os.path.isdir(run_dir) else []:
            pidfile = os.path.join(run_dir, shard, "postmaster.pid")
            try:
                with open(pidfile) as f:
                    pid = int(f.readline())
                os.kill(pid, signal.SIGQUIT)
                for _ in range(100):
                    os.kill(pid, 0)
                    time.sleep(0.1)
            except (OSError, ValueError):
                pass
        shutil.rmtree(run_dir, ignore_errors=True)


class Shards:
    """N loaded PostgreSQL shards; use as ``with Shards(...) as shards``."""

    def __init__(self, pg_root, loads, ddl, extra_tables=(), log_statements=False):
        self.run_dir = os.path.join(pg_root, f"run-{os.getpid()}")
        self.loads = loads
        self.ddl = ddl
        self.extra_tables = extra_tables
        self.log_statements = log_statements
        self.procs = []
        self.ports = []
        self.logs = []

    def __enter__(self):
        try:
            self.start()
        except BaseException:
            self.stop()
            raise
        return self

    def __exit__(self, *exc):
        self.stop()
        return False

    def start(self):
        if PG_BIN is None:
            raise RuntimeError("PostgreSQL not found: pg_config is not on the PATH")
        reap_stale(os.path.dirname(self.run_dir))
        os.makedirs(self.run_dir)
        pg = pwd.getpwnam("postgres")
        dirs = []
        for i in range(len(self.loads)):
            d = os.path.join(self.run_dir, f"shard{i}")
            os.makedirs(d, mode=0o700)
            if os.geteuid() == 0:
                os.chown(d, pg.pw_uid, pg.pw_gid)
            dirs.append(d)
        # initdb both clusters at once
        inits = [subprocess.Popen(as_postgres([f"{PG_BIN}/initdb", "-D", d, "-U", "graft",
                                               "--auth=trust", "-E", "UTF8", "--no-locale",
                                               "--no-sync"]),
                                  stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
                 for d in dirs]
        for p in inits:
            _, err = p.communicate(timeout=120)
            if p.returncode != 0:
                raise RuntimeError(f"initdb failed: {err.decode(errors='replace')[-500:]}")
        settings = dict(SETTINGS)
        if self.log_statements:
            settings["log_statement"] = "all"
        for d in dirs:
            port = free_port()
            log = os.path.join(self.run_dir, os.path.basename(d) + ".log")
            args = [f"{PG_BIN}/postgres", "-D", d, "-p", str(port)]
            for k, v in settings.items():
                args += ["-c", f"{k}={v}"]
            with open(log, "wb") as logf:
                self.procs.append(subprocess.Popen(as_postgres(args), stdout=logf,
                                                   stderr=subprocess.STDOUT))
            self.ports.append(port)
            self.logs.append(log)
        for proc, port in zip(self.procs, self.ports):
            self.wait_ready(proc, port)
        for port, load in zip(self.ports, self.loads):
            psql(port, "CREATE DATABASE graft", db="postgres")
            psql(port, f"CREATE TABLE orders ({self.ddl})")
            for t in self.extra_tables:
                psql(port, f"CREATE TABLE {t} ({self.ddl})")
            psql(port, f"\\copy orders FROM '{load}' WITH (FORMAT csv, HEADER true)")
            psql(port, "ANALYZE orders")

    @staticmethod
    def wait_ready(proc, port):
        deadline = time.time() + 60
        while time.time() < deadline:
            if proc.poll() is not None:
                raise RuntimeError(f"postgres on port {port} exited with {proc.returncode}")
            r = subprocess.run([f"{PG_BIN}/pg_isready", "-q", "-h", "127.0.0.1", "-p", str(port)])
            if r.returncode == 0:
                return
            time.sleep(0.1)
        raise RuntimeError(f"postgres on port {port} did not start")

    def stop(self):
        """Fast shutdown, wait for every process, then remove the data."""
        for p in self.procs:
            if p.poll() is None:
                p.send_signal(signal.SIGINT)
        for p in self.procs:
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        self.procs = []
        shutil.rmtree(self.run_dir, ignore_errors=True)
