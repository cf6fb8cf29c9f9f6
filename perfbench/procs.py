"""Every process a run starts ends before the run does.

The run tags its environment before Spark starts. The Spark JVM and the
Python workers it forks inherit the tag, also those that move to their
own process group (``pyspark.daemon`` does) or outlive their parent, so
a scan of ``/proc`` finds all of them.
"""

from __future__ import annotations

import os
import signal
import time

TAG_VAR = "PERFBENCH_RUN"


def tag_environment() -> str:
    """Tag this process's environment, inherited by every child."""
    tag = f"{os.getpid()}-{time.time_ns()}"
    os.environ[TAG_VAR] = tag
    return tag


def tagged_pids(tag: str | None = None) -> list[int]:
    """Live processes other than this one whose environment carries
    ``tag`` (any tag when None). Zombies have no readable environment and
    are left to whoever reaps them."""
    prefix = f"{TAG_VAR}=".encode()
    want = prefix + tag.encode() if tag is not None else None
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            continue
        if any(v == want if want else v.startswith(prefix) for v in env):
            out.append(int(name))
    return out


def _signal_until_gone(tag: str, sig: int, wait_s: float) -> bool:
    for pid in tagged_pids(tag):
        try:
            os.kill(pid, sig)
        except OSError:
            pass
    deadline = time.monotonic() + wait_s
    while tagged_pids(tag):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


def stop_spark(tag: str) -> None:
    """Kill the Spark JVM, then every tagged process left (its Python
    workers), and wait for each. The session is not stopped first:
    ``spark.stop()`` takes 1-5 s, the run has written all it keeps by
    now, and Spark's files go with the run directory."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    if not _signal_until_gone(tag, signal.SIGTERM, 10) and \
            not _signal_until_gone(tag, signal.SIGKILL, 10):
        raise RuntimeError(f"processes left running: {tagged_pids(tag)}")
