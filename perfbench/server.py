"""Launch and stop the real server (graft.server.ServerMain) from the
compiled classes, isolated in a per-run directory: a fresh --db_path,
Spark local dirs and java.io.tmpdir all live under it."""
import os
import socket
import subprocess
import time

import build
import chhttp
import pgwire

# Spark 4 on JDK 17 needs the module opens spark-submit would add (the
# same list as build.sbt's javaOptions and tools/run_server.sh).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
HEAP = "4g"


def nproc():
    return len(os.sched_getaffinity(0))


def jvm_command(classes, main, args, tmpdir):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # -UsePerfData: no hsperfdata file in the system /tmp
    return cmd + ["-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmpdir,
                  "-Dspark.ui.enabled=false",
                  "-cp", build.classpath(classes), main] + args


def jvm_env(run_dir):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    for k in ("SPARK_GRAFT_CORE_CONF", "GRAFT_AUTH", "GRAFT_DB_PATH", "GRAFT_ALLOW_FILE_IO"):
        env.pop(k, None)
    return env


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """One ServerMain process. `setup_s` is launch → both ports answer
    `SELECT 1`."""

    def __init__(self, classes, data_dir, run_dir):
        self.run_dir = run_dir
        self.db = os.path.join(run_dir, "db")
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(run_dir, d), exist_ok=True)
        self.pg_port, self.ch_port = free_port(), free_port()
        self.log_path = os.path.join(run_dir, "server.log")
        self.log = open(self.log_path, "wb")
        t0 = time.monotonic()
        self.proc = subprocess.Popen(
            jvm_command(classes, "graft.server.ServerMain",
                        [str(self.pg_port), str(self.ch_port), data_dir, "--auth=false",
                         "--db_path=" + self.db], os.path.join(run_dir, "tmp")),
            cwd=run_dir, env=jvm_env(run_dir), stdout=self.log, stderr=subprocess.STDOUT)
        self._wait_ready(t0, timeout=150)
        self.setup_s = time.monotonic() - t0

    def _wait_ready(self, t0, timeout):
        pg_ok = ch_ok = False
        while not (pg_ok and ch_ok):
            if self.proc.poll() is not None:
                raise RuntimeError("server exited during start-up (see %s)" % self.log_path)
            if time.monotonic() - t0 > timeout:
                raise RuntimeError("server not ready after %ds" % timeout)
            try:
                if not pg_ok:
                    c = pgwire.PgConn(self.pg_port, timeout=20)
                    pg_ok = c.query("SELECT 1").rows == [["1"]]
                    c.close()
                if not ch_ok:
                    ch_ok = chhttp.post(self.ch_port, "SELECT 1", timeout=20).strip() == b"1"
            except (OSError, pgwire.PgError, chhttp.ChError):
                time.sleep(0.05)

    def alive(self):
        return self.proc.poll() is None

    def peak_rss_mb(self):
        """VmHWM: the kernel's own high-water mark of the process RSS."""
        with open("/proc/%d/status" % self.proc.pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for server pid %d" % self.proc.pid)

    def stop(self):
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.log.close()
