"""Client for the benchmark's JVM command server (`src/PipeBench.scala`)."""
import json
import os
import subprocess
import time

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class JvmError(RuntimeError):
    pass


class Jvm:
    """One Spark driver JVM. Its temp dirs, Spark local dir, warehouse and
    Derby home all live under `root`, which the caller deletes."""

    def __init__(self, classpath, root, master):
        for d in ("tmp", "local"):
            os.makedirs(os.path.join(root, d), exist_ok=True)
        opens = [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", *opens,
               f"-Djava.io.tmpdir={root}/tmp", f"-Dderby.system.home={root}/derby",
               f"-Dspark.local.dir={root}/local", f"-Dspark.sql.warehouse.dir={root}/warehouse",
               f"-Dspark.hadoop.hadoop.tmp.dir={root}/hadoop",
               "-cp", classpath, "graft.pipebench.PipeBench", master]
        self.log = open(os.path.join(root, "jvm.log"), "w")
        self.proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, bufsize=1)
        self._read()

    def _read(self):
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise JvmError(f"JVM exited ({self.proc.wait()}); log tail:\n{self.log_tail()}")
            if line.startswith("PB "):
                return json.loads(line[3:])

    def call(self, *args):
        self.proc.stdin.write("\t".join(str(a) for a in args) + "\n")
        self.proc.stdin.flush()
        reply = self._read()
        if "error" in reply:
            raise JvmError(f"{args[0]} failed: {reply['error']}")
        return reply

    def log_tail(self, n=30):
        self.log.flush()
        with open(self.log.name, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])

    def close(self):
        """Stops the JVM and waits until it has ended."""
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.close()
                self.proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        self.log.close()


def start_timed(classpath, root, master):
    t0 = time.monotonic()
    jvm = Jvm(classpath, root, master)
    return jvm, time.monotonic() - t0
