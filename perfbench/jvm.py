"""Launching and stopping the program's JVMs."""
import os
import signal
import subprocess
import threading
import time

# What spark-submit adds for Spark 4 on JDK 17 (build.sbt's
# jdk17AddOpens, the same list scripts/jar_smoke.sh launches Serve with).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/jdk.internal.ref",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"
TRACE_LISTENERS = {
    "spark.extraListeners": "perfbench.TraceListener",
    "spark.sql.queryExecutionListeners": "perfbench.TraceQeListener",
    "spark.sql.streaming.streamingQueryListeners":
        "perfbench.TraceStreamListener",
}


LIVE = set()


def stop_all():
    """Stop every program JVM still running (used on abort)."""
    for j in list(LIVE):
        j.stop(grace=5)


class Jvm:
    """One program JVM: its process, its ready time and its stdout."""

    def __init__(self, classpath, main, args, workdir, props=None,
                 trace_file=None):
        os.makedirs(workdir, exist_ok=True)
        tmp = os.path.join(workdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        props = dict(props or {})
        props.update({
            "spark.ui.enabled": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "java.io.tmpdir": tmp,
            "derby.system.home": tmp,
            "spark.hadoop.hadoop.tmp.dir": tmp,
        })
        if trace_file:
            props.update(TRACE_LISTENERS)
            props["perfbench.trace"] = trace_file
        cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
               + [f"-Xmx{HEAP}", "-XX:-UsePerfData"]
               + [f"-D{k}={v}" for k, v in props.items()]
               + ["-cp", classpath, main] + list(args))
        self.stdout_lines = []
        self.ready_at = None
        self._ready = threading.Event()
        self.log = open(os.path.join(workdir, "jvm.log"), "ab")
        self.launched_at = time.time()
        self.proc = subprocess.Popen(cmd, cwd=workdir, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True)
        LIVE.add(self)
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self):
        for line in self.proc.stdout:
            line = line.strip()
            self.stdout_lines.append(line)
            if not self._ready.is_set() and '"ready"' in line:
                self.ready_at = time.time()
                self._ready.set()
        self._ready.set()

    def wait_ready(self, timeout):
        """Seconds from launch to the ready line."""
        self._ready.wait(timeout)
        if self.ready_at is None:
            raise RuntimeError("program JVM exited or timed out before ready")
        return self.ready_at - self.launched_at

    def peak_rss_mb(self):
        """Peak resident set of the JVM so far (VmHWM)."""
        try:
            with open(f"/proc/{self.proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    def wait(self, timeout):
        try:
            return self.proc.wait(timeout)
        finally:
            self.stop()

    def stop(self, grace=20):
        """SIGTERM (the program's shutdown hooks run), then SIGKILL."""
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(grace)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self._reader.join(5)
        self.log.close()
        LIVE.discard(self)
