"""Live processes and threads contending for the maintenance writer
lock — the real acquisition code on every side (the holder runs
``_MaintenanceLock.__enter__`` itself).  Pins the contract documented
on the class: (1) a live holder makes the loser fail fast with
``MaintenanceLockHeld`` (no blocking, no queueing), (2) the holder's
exit or death hands the lock to the next acquirer — the kernel drops
a dead holder's flock, (3) a stopped holder still holds, (4) N
simultaneous acquirers produce exactly one winner, and (5) a sibling
thread contends instead of re-entering."""

import os
import signal
import subprocess
import sys
import time

import pytest

from rakam_api_spark.catalog import Metastore
from rakam_api_spark.store import MaintenanceLockHeld, _MaintenanceLock

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_HOLDER_SRC = """
import sys, time
sys.path.insert(0, {repo!r})
from rakam_api_spark.store import _MaintenanceLock

lock_path, ready_path = sys.argv[1], sys.argv[2]
with _MaintenanceLock(lock_path):
    open(ready_path, "w").write("held")
    time.sleep(60)   # hold until killed (the test controls lifetime)
"""

#: one racer: waits for the ``go`` file, then tries the lock once.
#: The winner holds until every loser has reported (file-based
#: rendezvous), so a load-delayed straggler can never legitimately
#: acquire after release and masquerade as a second winner.
_RACER_SRC = """
import sys, time, os
sys.path.insert(0, {repo!r})
from rakam_api_spark.store import _MaintenanceLock, MaintenanceLockHeld

lock_path, go, done_dir, me, n_losers = sys.argv[1:6]
while not os.path.exists(go):
    time.sleep(0.002)
try:
    with _MaintenanceLock(lock_path):
        deadline = time.time() + 10
        while len(os.listdir(done_dir)) < int(n_losers) and time.time() < deadline:
            time.sleep(0.005)
    print("WON")
except MaintenanceLockHeld:
    open(os.path.join(done_dir, me), "w").close()
    print("LOST")
"""


def _spawn_holder(lock_path: str, ready_path: str) -> subprocess.Popen:
    proc = subprocess.Popen(
        [sys.executable, "-c", _HOLDER_SRC.format(repo=REPO), lock_path, ready_path]
    )
    deadline = time.time() + 15
    while not os.path.exists(ready_path):
        if proc.poll() is not None:
            raise AssertionError(f"holder exited early rc={proc.returncode}")
        if time.time() > deadline:
            proc.kill()
            raise AssertionError("holder never acquired the lock")
        time.sleep(0.05)
    return proc


def _race(tmp_path, tag: str, n: int = 4) -> list[str]:
    """``n`` processes race one acquisition; returns their outcomes."""
    lock_path = str(tmp_path / f"{tag}.lock")
    go = str(tmp_path / f"go{tag}")
    done_dir = tmp_path / f"done{tag}"
    done_dir.mkdir()
    procs = [
        subprocess.Popen(
            [
                sys.executable,
                "-c",
                _RACER_SRC.format(repo=REPO),
                lock_path,
                go,
                str(done_dir),
                str(i),
                str(n - 1),
            ],
            stdout=subprocess.PIPE,
            text=True,
        )
        for i in range(n)
    ]
    time.sleep(0.3)  # let everyone reach the barrier
    open(go, "w").write("go")
    return [p.communicate(timeout=40)[0].strip() for p in procs]


@pytest.fixture()
def contended_store(spark, warehouse):
    from rakam_api_spark.api import EventCollector
    from rakam_api_spark.enrich import EnrichmentPipeline, TimestampMapper

    collector = EventCollector(
        spark, Metastore(warehouse), pipeline=EnrichmentPipeline([TimestampMapper()])
    )
    for i in range(3):
        collector.collect(
            "proj", "ev", {"x": i, "_time": f"2024-01-0{i + 1} 09:00:00"}
        )
    return collector.store


def test_live_contender_blocks_compact_then_release_hands_over(
    contended_store, tmp_path
):
    store = contended_store
    lock_path = store._base_path("proj", "ev") + ".lock"
    ready = str(tmp_path / "ready")
    holder = _spawn_holder(lock_path, ready)
    try:
        # the loser fails FAST with the documented error (no queueing)
        t0 = time.time()
        with pytest.raises(MaintenanceLockHeld, match="single-writer"):
            store.compact("proj", "ev")
        assert time.time() - t0 < 5
    finally:
        holder.terminate()
        holder.wait()
    # SIGTERM ended the holder mid-hold: its lock went with it, and
    # the NEXT acquirer proceeds
    assert store.compact("proj", "ev") == 1
    assert os.path.exists(lock_path)  # never unlinked: one inode for all


def test_crash_killed_holder_is_taken_over(contended_store, tmp_path):
    store = contended_store
    lock_path = store._base_path("proj", "ev") + ".lock"
    ready = str(tmp_path / "ready")
    holder = _spawn_holder(lock_path, ready)
    # SIGKILL mid-hold: no cleanup handler runs
    os.kill(holder.pid, signal.SIGKILL)
    holder.wait()
    assert store.compact("proj", "ev") == 1
    rows = sorted(r["x"] for r in store.read("proj", "ev").collect())
    assert rows == [0, 1, 2]


def test_two_simultaneous_live_acquirers_exactly_one_wins(tmp_path):
    """N processes race the SAME acquisition simultaneously (barrier on
    a marker file): exactly one holds, the rest fail with
    MaintenanceLockHeld — the kernel's flock is the arbiter."""
    outcomes = _race(tmp_path, "r")
    assert outcomes.count("WON") == 1, outcomes
    assert outcomes.count("LOST") == 3, outcomes


def test_suspended_live_holder_is_not_broken(tmp_path):
    """A holder stopped with SIGSTOP (the GC-pause / scheduler-stall
    analog) still holds: a contender probing while the holder is
    frozen fails fast with MaintenanceLockHeld."""
    lock_path = str(tmp_path / "c.lock")
    ready = str(tmp_path / "ready")
    holder = _spawn_holder(lock_path, ready)
    try:
        os.kill(holder.pid, signal.SIGSTOP)
        with pytest.raises(MaintenanceLockHeld, match="single-writer"):
            with _MaintenanceLock(lock_path):
                pass
    finally:
        os.kill(holder.pid, signal.SIGCONT)
        holder.terminate()
        holder.wait()
    with _MaintenanceLock(lock_path):
        pass


def test_acquisition_race_stress_under_cpu_load(tmp_path):
    """The 4-way acquisition race repeated x20 WHILE concurrent CPU
    load runs on the machine (load widens any gap between checking
    and taking the lock into a schedulable one).  Exactly one winner
    every round."""
    burners = [
        subprocess.Popen([sys.executable, "-c", "while True: pass"])
        for _ in range(8)
    ]
    try:
        for rnd in range(20):
            outcomes = _race(tmp_path, str(rnd))
            assert outcomes.count("WON") == 1, (rnd, outcomes)
            assert outcomes.count("LOST") == 3, (rnd, outcomes)
    finally:
        for b in burners:
            b.kill()
        for b in burners:
            b.wait()


def test_sibling_thread_contends_not_reenters(tmp_path):
    """Re-entrancy is per-THREAD.  A second thread of the same process
    contending for a held path must get MaintenanceLockHeld (like a
    foreign process), never enter as "re-entrant"; the holding thread
    itself still re-enters."""
    import threading

    lock_path = str(tmp_path / "c.lock")
    held = threading.Event()
    release = threading.Event()
    outcomes = []

    def holder():
        with _MaintenanceLock(lock_path):
            with _MaintenanceLock(lock_path):  # same-thread re-entrancy
                held.set()
                release.wait(timeout=30)

    def contender():
        held.wait(timeout=30)
        try:
            with _MaintenanceLock(lock_path):
                outcomes.append("ACQUIRED")
        except MaintenanceLockHeld as e:
            outcomes.append(f"HELD:{'thread' in str(e)}")

    t1 = threading.Thread(target=holder)
    t2 = threading.Thread(target=contender)
    t1.start(); t2.start()
    t2.join(timeout=60)
    release.set()
    t1.join(timeout=60)
    assert outcomes == ["HELD:True"], outcomes
    # after the holder fully releases, any thread may acquire
    with _MaintenanceLock(lock_path):
        pass
