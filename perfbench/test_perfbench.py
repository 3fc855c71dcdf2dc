"""The benchmark's own tests: seeded inputs and process hygiene.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

RUN_TIMEOUT_S = 400


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_inputs_are_a_function_of_the_seed(name, tmp_path):
    make = WORKLOADS[name].inputs
    a = make(7, str(tmp_path / "a"), 0.05)
    b = make(7, str(tmp_path / "b"), 0.05)
    c = make(8, str(tmp_path / "c"), 0.05)
    assert a.digest() == b.digest()
    assert a.expect == b.expect
    assert a.digest() != c.digest()


def test_change_files_are_dated_in_sequence(tmp_path):
    """The replication stream reads change files in modification-time
    order, so each batch file must be dated clearly after the one before
    it: files written back to back can share a coarse timestamp."""
    inp = WORKLOADS["history_replication"].inputs(7, str(tmp_path), 0.05)
    d = inp.paths["changes"]
    mtimes = [os.stat(os.path.join(d, f)).st_mtime_ns for f in sorted(os.listdir(d))]
    assert len(mtimes) == inp.expect["batches"] > 1
    assert all(b - a >= 1_000_000_000 for a, b in zip(mtimes, mtimes[1:]))


def _tree(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file of the checkout outside .git and the
    interpreter's bytecode caches."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in (".git", "__pycache__")]
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _session_members(sid: int) -> list[str]:
    """Command lines of live processes in session ``sid``."""
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            found.append(f"{name}: {cmd[:120]}")
    return found


def test_run_leaves_no_process_and_no_file():
    """A short run must stop the JVM, the py4j gateway and every PySpark
    worker it started, and write nothing into the checkout."""
    before = _tree(ROOT)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "tile_pyramid", "--seed", "3", "--seconds", "1",
         "--trace", "0"],
        cwd=ROOT,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        start_new_session=True,  # everything it starts shares its session
    )
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    survivors = _session_members(proc.pid)
    if survivors:
        os.killpg(proc.pid, signal.SIGKILL)
    assert not survivors, survivors
    assert proc.returncode == 0
    result = json.loads(out.decode().strip().splitlines()[-1])
    assert result["correct"] and result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(result["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert _tree(ROOT) == before
