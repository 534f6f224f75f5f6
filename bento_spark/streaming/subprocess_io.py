"""subprocess input/output — run a command as a child process and treat
its stdout as a message source, or its stdin as a sink.

Reference: internal/impl/io/input_subprocess.go (stdout consumed with a
`lines` codec, `restart_on_exit` re-executes the command each time it
stops, `max_buffer` bounds one message, stderr is logged) and
output_subprocess.go (lines written to stdin, the runtime forces
maxInFlight=1, an unexpected exit logs stderr + the exit code and the
command is re-executed until success).

Spark-first mapping: a single OS child has one stdout/stdin, so both
sides are driver-side control-plane bridges by nature — exactly like
the reference, which is itself a single process. The input spools each
stdout line as a durable file (the replayable file stream is the bulk
route into Spark); the output renders rows to JSON JVM-side and streams
them through toLocalIterator so the batch never materializes on the
driver.
"""

from __future__ import annotations

import subprocess
import sys
import threading
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from bento_spark.streaming.spool import Spool


@dataclass
class SubprocessSpooler:
    """`subprocess` input: execute `name args...`, spool each stdout
    line as one message file. The command runs once and the input
    closes down when it terminates, unless restart_on_exit re-executes
    it (input_subprocess.go's restartOnExit loop). A line longer than
    max_buffer fails the input loudly (bufio.Scanner's token-too-long
    contract)."""

    name: str
    args: list[str] = field(default_factory=list)
    spool_dir: str = ""
    restart_on_exit: bool = False
    max_buffer: int = 65536
    error: str | None = None
    finished: bool = False
    restarts: int = 0
    _proc: subprocess.Popen | None = field(default=None, repr=False)
    _thread: threading.Thread | None = field(default=None, repr=False)
    _stop: threading.Event = field(default_factory=threading.Event,
                                   repr=False)

    def start(self) -> "SubprocessSpooler":
        spool = Spool(self.spool_dir)

        def pump_stderr(proc: subprocess.Popen) -> None:
            # input_subprocess.go logs subprocess stderr lines
            for raw in proc.stderr:
                print(f"subprocess input [{self.name}] stderr: "
                      f"{raw.decode('utf-8', 'replace').rstrip()}",
                      file=sys.stderr)

        def run() -> None:
            while not self._stop.is_set():
                try:
                    proc = subprocess.Popen(
                        [self.name, *self.args],
                        stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                        stdin=subprocess.DEVNULL)
                except OSError as e:
                    self.error = f"subprocess input: {e}"
                    self.finished = True
                    return
                self._proc = proc
                et = threading.Thread(target=pump_stderr, args=(proc,),
                                      daemon=True)
                et.start()
                while not self._stop.is_set():
                    line = proc.stdout.readline(self.max_buffer + 1)
                    if not line:
                        break
                    if len(line) > self.max_buffer:
                        self.error = (
                            f"subprocess input: line exceeds max_buffer "
                            f"({self.max_buffer} bytes)")
                        proc.kill()
                        proc.wait()
                        self.finished = True
                        return
                    spool.put(line.rstrip(b"\r\n"))
                proc.wait()
                et.join(timeout=5)
                if not self.restart_on_exit or self._stop.is_set():
                    break
                self.restarts += 1
            self.finished = True

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._proc is not None and self._proc.poll() is None:
            self._proc.terminate()
            try:
                self._proc.wait(timeout=5)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None


def subprocess_sink(name: str, args: list[str] | None = None,
                    max_retries: int = 3):
    """`subprocess` output (output_subprocess.go): rows render to JSON
    JVM-side and stream line-by-line into the child's stdin. One stdin
    means one writer — the reference pins maxInFlight=1; here the
    foreachBatch driver loop is that single writer, and
    toLocalIterator keeps the batch off the driver heap. An unexpected
    exit logs stderr + the exit code and re-executes the command
    (bounded at max_retries per write so a command that always dies
    fails the query instead of spinning).

    Delivery contract: a line is delivered once it is flushed to the
    child's stdin. Lines the child has not read yet when it dies are lost;
    the relaunched child gets only the lines written after the death was
    seen."""
    args = list(args or [])
    state: dict = {"proc": None}

    def ensure_proc() -> subprocess.Popen:
        proc = state["proc"]
        if proc is None or proc.poll() is not None:
            proc = subprocess.Popen(
                [name, *args], stdin=subprocess.PIPE,
                stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
            state["proc"] = proc
        return proc

    def report_death(proc: subprocess.Popen) -> None:
        err = b""
        try:
            err = proc.stderr.read() or b""
        except (OSError, ValueError):
            pass
        print(f"subprocess output [{name}] exited "
              f"(code {proc.poll()}): "
              f"{err.decode('utf-8', 'replace').strip()}",
              file=sys.stderr)

    def write_batch(batch_df, epoch_id: int) -> None:
        lines = batch_df.select(
            F.to_json(F.struct(*[F.col(c) for c in batch_df.columns])).alias("v"))
        for row in lines.toLocalIterator():
            data = row.v.encode("utf-8") + b"\n"
            for attempt in range(max_retries + 1):
                proc = ensure_proc()
                try:
                    proc.stdin.write(data)
                    proc.stdin.flush()
                    break
                except (BrokenPipeError, OSError):
                    proc.wait()
                    report_death(proc)
                    state["proc"] = None
                    if attempt == max_retries:
                        raise ConnectionError(
                            f"subprocess output: {name} keeps exiting "
                            f"({max_retries} relaunches)")

    def close() -> None:
        proc = state.get("proc")
        if proc is not None and proc.poll() is None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    write_batch.close = close
    write_batch.state = state  # test hook: reach the live child
    return write_batch
