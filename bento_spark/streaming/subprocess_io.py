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

from pyspark.sql import functions as F

from bento_spark.streaming.bridge import Bridge, FanIn


def subprocess_bridge(name: str, args: list[str] = (), spool_dir: str = "",
                      restart_on_exit: bool = False, max_buffer: int = 65536) -> Bridge:
    """`subprocess` input: execute `name args...`, spool each stdout
    line as one message file, and log each stderr line. The command runs
    once and the bridge finishes when it exits, unless restart_on_exit
    re-executes it (input_subprocess.go's restartOnExit loop): the exit
    then counts as a dropped connection, so relaunches back off. A line
    longer than max_buffer fails the input loudly (bufio.Scanner's
    token-too-long contract)."""

    def connect() -> subprocess.Popen:
        return subprocess.Popen([name, *args], stdout=subprocess.PIPE,
                                stderr=subprocess.PIPE, stdin=subprocess.DEVNULL)

    def close(proc: subprocess.Popen) -> None:
        if proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(timeout=5)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def lines(proc: subprocess.Popen):
        while line := proc.stdout.readline(max_buffer + 1):
            if len(line) > max_buffer:
                raise ValueError(f"subprocess input: line exceeds max_buffer "
                                 f"({max_buffer} bytes)")
            yield line.rstrip(b"\r\n"), {}, None

    def log_stderr(proc: subprocess.Popen):
        # input_subprocess.go logs subprocess stderr lines
        for raw in proc.stderr:
            print(f"subprocess input [{name}] stderr: "
                  f"{raw.decode('utf-8', 'replace').rstrip()}", file=sys.stderr)
        yield from ()

    def messages(proc: subprocess.Popen, stop):
        fan = FanIn(stop)
        fan.add(lines(proc))
        fan.add(log_stderr(proc))
        yield from fan
        code = proc.wait()
        if restart_on_exit and not stop.is_set():
            raise ConnectionError(f"subprocess input: {name} exited with code {code}")

    return Bridge("subprocess", spool_dir, connect, messages, close=close)


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
