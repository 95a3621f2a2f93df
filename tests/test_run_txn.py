"""Run-grain two-phase publish (VERDICT r5 item 1): multi-table flow commits
must be all-or-nothing under crash. Each table's publish was already atomic
via its _CURRENT marker; these tests pin the RUN-level contract — a failure
anywhere between the two staged commits can never leave one table advanced
and the other not, in either order.

Crash simulation: we stop the in-process cleanup (no abort_run) exactly where
the injected failure fires, then open a FRESH StateStore on the same root —
the "restart" — and assert what a reader sees. Before the manifest flip the
run rolls back (before-state, staged dirs purged); after the flip it rolls
forward (complete after-state). Mirrors the verdict-then-commit ordering of
OrthologRelationLoader.java:599-672 at run grain (SURVEY §1.4).
"""

from __future__ import annotations

import ast
import json
import os
import pathlib
import threading
import time

import pytest
from pyspark.sql import functions as F

from ortholog_pipeline_spark.plans import run_agr_load, run_species_load
from ortholog_pipeline_spark.sources import state as state_mod
from ortholog_pipeline_spark.sources.state import StateStore

from test_plans import RAT, RUN_TS, _agr_lines, _relations, _seed_store


def _simulate_death():
    """A real crash clears the in-process live-run registry with the process;
    these tests stay in one process, so clear it explicitly before 'restart'."""
    state_mod._LIVE_RUNS.clear()


def _two_table_store(spark, tmp_path, name="txn"):
    store = StateStore(spark, str(tmp_path / name))
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    store.write("t2", spark.createDataFrame([(1, "x")], "k int, v string"))
    return store


def _rows(store, table):
    return sorted(tuple(r) for r in store.read(table).collect())


def test_commit_run_publishes_both(spark, tmp_path):
    store = _two_table_store(spark, tmp_path)
    store.begin_run(["t1", "t2"])
    v1 = store.write("t1", spark.createDataFrame([(2, "b")], "k int, v string"),
                     publish=False)
    v2 = store.write("t2", spark.createDataFrame([(2, "y")], "k int, v string"),
                     publish=False)
    # staged, not visible
    assert _rows(store, "t1") == [(1, "a")]
    store.commit_run({"t1": v1, "t2": v2})
    assert _rows(store, "t1") == [(2, "b")]
    assert _rows(store, "t2") == [(2, "y")]
    assert not os.path.exists(store._pending_path)


def test_crash_during_staging_rolls_back(spark, tmp_path):
    store = _two_table_store(spark, tmp_path)
    store.begin_run(["t1", "t2"])
    v1 = store.write("t1", spark.createDataFrame([(2, "b")], "k int, v string"),
                     publish=False)
    staged_dir = os.path.join(store.root, "t1", f"v={v1}")
    assert os.path.isdir(staged_dir)
    # crash before commit point: manifest still PREPARED; restart
    _simulate_death()
    fresh = StateStore(spark, store.root)
    assert _rows(fresh, "t1") == [(1, "a")]
    assert _rows(fresh, "t2") == [(1, "x")]
    assert not os.path.isdir(staged_dir)  # staged residue purged
    assert not os.path.exists(fresh._pending_path)
    # the root is reusable: a new run can begin and commit normally
    fresh.begin_run(["t1"])
    v = fresh.write("t1", spark.createDataFrame([(3, "c")], "k int, v string"),
                    publish=False)
    fresh.commit_run({"t1": v})
    assert _rows(fresh, "t1") == [(3, "c")]


def test_crash_between_publishes_rolls_forward(spark, tmp_path):
    store = _two_table_store(spark, tmp_path)
    store.begin_run(["t1", "t2"])
    v1 = store.write("t1", spark.createDataFrame([(2, "b")], "k int, v string"),
                     publish=False)
    v2 = store.write("t2", spark.createDataFrame([(2, "y")], "k int, v string"),
                     publish=False)
    # simulate: manifest flipped to COMMITTED, first marker advanced, then death
    store._write_manifest(
        {"run_id": store._active_run, "state": "COMMITTED",
         "tables": {"t1": v1, "t2": v2}}
    )
    store._publish("t1", v1)
    _simulate_death()
    fresh = StateStore(spark, store.root)  # restart
    assert _rows(fresh, "t1") == [(2, "b")]
    assert _rows(fresh, "t2") == [(2, "y")]  # rolled forward
    assert not os.path.exists(fresh._pending_path)


def test_begin_run_refuses_concurrent_pending(spark, tmp_path):
    store = _two_table_store(spark, tmp_path)
    store.begin_run(["t1"])
    other = StateStore(spark, store.root)
    with pytest.raises(RuntimeError, match="already pending"):
        other.begin_run(["t2"])
    store.abort_run()
    other.begin_run(["t2"])  # now fine
    other.abort_run()


def test_abort_run_restores_before_state(spark, tmp_path):
    store = _two_table_store(spark, tmp_path)
    store.begin_run(["t1", "t2"])
    store.write("t1", spark.createDataFrame([(2, "b")], "k int, v string"),
                publish=False)
    store.abort_run()
    assert _rows(store, "t1") == [(1, "a")]
    assert store.current_version("t1") == 0
    assert not os.path.exists(store._pending_path)


def test_species_load_publish_crash_is_all_or_nothing(
    spark, tmp_path, monkeypatch
):
    """The verdict's prescribed injection: the SECOND _publish of the species
    flow's twin commit raises (process dies — abort_run never runs). On
    restart the store must read as all-or-nothing; since the manifest flipped
    before any marker moved, that means BOTH tables advanced, equal to an
    uninjected twin run."""
    crash_store = _seed_store(spark, tmp_path / "crash")
    twin_store = _seed_store(spark, tmp_path / "twin")

    real_publish = StateStore._publish
    calls = {"n": 0}

    def exploding_publish(self, table, version):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected crash between the twin publishes")
        return real_publish(self, table, version)

    monkeypatch.setattr(StateStore, "_publish", exploding_publish)
    monkeypatch.setattr(StateStore, "abort_run", lambda self: None)  # dead proc
    with pytest.raises(OSError, match="injected crash"):
        run_species_load(
            crash_store, _relations(spark), RUN_TS, RAT, delete_threshold_pct=100.0
        )
    # the manifest survives the "crash" in COMMITTED state
    with open(os.path.join(crash_store.root, "_RUN_PENDING")) as f:
        assert json.load(f)["state"] == "COMMITTED"
    monkeypatch.undo()
    _simulate_death()

    run_species_load(
        twin_store, _relations(spark), RUN_TS, RAT, delete_threshold_pct=100.0
    )

    fresh = StateStore(spark, crash_store.root)  # restart → roll forward
    for table in ("orthologs", "associations"):
        assert _rows(fresh, table) == _rows(twin_store, table), table
        assert fresh.current_version(table) == twin_store.current_version(table)
    assert not os.path.exists(fresh._pending_path)


def test_species_load_staging_crash_rolls_back_both(spark, tmp_path, monkeypatch):
    """Failure while STAGING (before the manifest flip): restart must read the
    exact before-state for both tables — no torn half-run, no staged residue."""
    store = _seed_store(spark, tmp_path / "stagecrash")
    before = {t: _rows(store, t) for t in ("orthologs", "associations")}
    before_v = {t: store.current_version(t) for t in ("orthologs", "associations")}

    real_write = StateStore.write

    def exploding_write(self, table, df, partition_by=None, publish=True):
        if not publish and table == "associations":
            raise OSError("injected crash while staging")
        return real_write(self, table, df, partition_by=partition_by,
                          publish=publish)

    monkeypatch.setattr(StateStore, "write", exploding_write)
    monkeypatch.setattr(StateStore, "abort_run", lambda self: None)  # dead proc
    with pytest.raises(OSError, match="injected crash"):
        run_species_load(
            store, _relations(spark), RUN_TS, RAT, delete_threshold_pct=100.0
        )
    monkeypatch.undo()
    _simulate_death()

    fresh = StateStore(spark, store.root)  # restart → roll back
    for table in ("orthologs", "associations"):
        assert _rows(fresh, table) == before[table], table
        assert fresh.current_version(table) == before_v[table]
    assert not os.path.exists(fresh._pending_path)


def test_agr_load_crash_rolls_back_mints(spark, tmp_path, monkeypatch):
    """The AGR flow mints genes/rgd_ids/xrefs BEFORE its final agr_orthologs
    upsert. Under the run txn a failure in the final commit must also unwind
    the mints — no phantom genes without the ortholog rows that motivated
    them (the pre-r6 concurrent form published mints immediately)."""
    store = _seed_store(spark, tmp_path / "agrcrash")
    before = {
        t: _rows(store, t) for t in ("genes", "rgd_ids", "xrefs", "agr_orthologs")
    }

    real_ac = StateStore.apply_changes

    def exploding_apply(self, table, *args, **kwargs):
        if table == "agr_orthologs" and not kwargs.get("publish", True):
            raise OSError("injected crash in final AGR commit")
        return real_ac(self, table, *args, **kwargs)

    monkeypatch.setattr(StateStore, "apply_changes", exploding_apply)
    with pytest.raises(OSError, match="injected crash"):
        run_agr_load(store, _agr_lines(spark), RUN_TS, delete_threshold_pct=100.0)
    monkeypatch.undo()

    # in-process abort_run DID run here (no simulated death): before-state holds
    for table, rows in before.items():
        assert _rows(store, table) == rows, table
    assert not os.path.exists(store._pending_path)
    # minted FB:F1 xref must NOT be visible
    assert store.read("xrefs").filter(F.col("acc_id") == "FB:F1").count() == 0

    # and the same store can run the flow to completion afterwards
    res = run_agr_load(store, _agr_lines(spark), RUN_TS, delete_threshold_pct=100.0)
    assert res.unresolved.count() == 0
    assert store.read("xrefs").filter(F.col("acc_id") == "FB:F1").count() == 1


MINT_TABLES = ("genes", "rgd_ids", "xrefs")


def _staged_dirs(store, table):
    """Version dirs above the published marker — staged, never committed."""
    cur = store.current_version(table)
    return [
        d
        for d in os.listdir(os.path.join(store.root, table))
        if d.startswith("v=") and int(d.split("=", 1)[1]) > cur
    ]


def test_agr_abort_joins_inflight_mint_writers(spark, tmp_path, monkeypatch):
    """A failure raised while the three mint writers are still staging must
    not abort around them: the run joins every writer first, so none is
    left running, none leaves an orphaned version dir above _CURRENT, and
    the store stays usable (an orphaned v=1 made every later AGR run fail in
    _append_version)."""
    from ortholog_pipeline_spark.plans import agr_load

    store = _seed_store(spark, tmp_path / "agrrace")
    before_v = {t: store.current_version(t) for t in MINT_TABLES}
    real_ac = StateStore.apply_changes

    def slow_mint(self, table, *args, **kwargs):
        if table in MINT_TABLES:
            time.sleep(3)
        return real_ac(self, table, *args, **kwargs)

    def exploding_sync(*args, **kwargs):
        raise RuntimeError("injected failure while mints stage")

    monkeypatch.setattr(StateStore, "apply_changes", slow_mint)
    monkeypatch.setattr(agr_load.sync, "sync_full_outer", exploding_sync)
    threads_before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="injected failure"):
        run_agr_load(store, _agr_lines(spark), RUN_TS, delete_threshold_pct=100.0)
    leaked = [
        t
        for t in threading.enumerate()
        if t not in threads_before and not t.daemon
    ]
    assert not leaked, leaked
    monkeypatch.undo()

    for table in MINT_TABLES:
        assert store.current_version(table) == before_v[table], table
        assert _staged_dirs(store, table) == [], table
    assert not os.path.exists(store._pending_path)

    res = run_agr_load(store, _agr_lines(spark), RUN_TS, delete_threshold_pct=100.0)
    assert res.unresolved.count() == 0
    assert store.read("xrefs").filter(F.col("acc_id") == "FB:F1").count() == 1


def test_run_scope_joins_slow_stage_and_reraises_first_error(
    spark, tmp_path, monkeypatch
):
    """`StateStore.run` exit waits for every staged writer, re-raises the
    first error, and leaves the before-state with no staged residue."""
    store = _two_table_store(spark, tmp_path)
    real_ac = StateStore.apply_changes
    finished = []

    def apply(self, table, *args, **kwargs):
        if table == "t1":
            raise OSError("injected t1 staging failure")
        time.sleep(3)
        v = real_ac(self, table, *args, **kwargs)
        finished.append(table)
        return v

    monkeypatch.setattr(StateStore, "apply_changes", apply)
    new = spark.createDataFrame([(2, "b")], "k int, v string")
    with pytest.raises(OSError, match="injected t1"):
        with store.run(["t1", "t2"]) as run:
            run.stage("t1", inserts=new)
            run.stage("t2", inserts=new)
    assert finished == ["t2"]  # the slow stage completed before exit
    monkeypatch.undo()

    assert _rows(store, "t1") == [(1, "a")]
    assert _rows(store, "t2") == [(1, "x")]
    for table in ("t1", "t2"):
        assert store.current_version(table) == 0, table
        assert _staged_dirs(store, table) == [], table
    assert not os.path.exists(store._pending_path)


def test_run_scope_submit_carries_caller_job_group(spark, tmp_path):
    store = _two_table_store(spark, tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("run_scope_group", "inheritance pin")
    try:
        with store.run(["t1"]) as run:
            run.submit(lambda: spark.range(10).count()).result()
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("run_scope_group")


def test_plans_import_no_thread_primitives():
    """Flows overlap and stage through `StateStore.run` only: no module under
    plans/ may import concurrent.futures or threading."""
    import ortholog_pipeline_spark.plans as plans_pkg

    offenders = []
    for path in sorted(pathlib.Path(plans_pkg.__file__).parent.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                modules = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                modules = [node.module or ""]
            else:
                continue
            offenders += [
                f"{path.name}:{node.lineno} {m}"
                for m in modules
                if m.split(".")[0] in ("concurrent", "threading")
            ]
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# Cross-process liveness (VERDICT r6 item 2): a reader process must coexist
# with a LIVE writer process's pending run — recovery fires only once the
# owner is provably dead (pid + start-time check) or via explicit repair().
# ---------------------------------------------------------------------------

_CHILD_WRITER = """\
import os, sys, time
sys.path.insert(0, {repo!r})
from ortholog_pipeline_spark.sources.state import StateStore

store = StateStore(None, {root!r})  # spark unused by the manifest protocol
store.begin_run(["t1"])
os.makedirs(os.path.join({root!r}, "t1", "v=1"), exist_ok=True)
with open(os.path.join({root!r}, "t1", "v=1", "part-0.parquet"), "w") as f:
    f.write("staged")
print("READY", flush=True)
time.sleep(120)  # hold the PREPARED manifest until the parent kills us
"""


def test_reader_coexists_with_live_cross_process_writer(spark, tmp_path):
    """A second process reading the store root while another process's run is
    mid-stage must NOT roll the live run back; once the writer is dead, the
    same read path recovers it."""
    import signal
    import subprocess
    import sys as _sys

    root = str(tmp_path / "xproc")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.Popen(
        [_sys.executable, "-c", _CHILD_WRITER.format(repo=repo, root=root)],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "READY"
        staged = os.path.join(root, "t1", "v=1")
        reader = StateStore(spark, root)  # fresh store, knows nothing in-process
        # reads trigger lazy recovery — which must now LEAVE the live run alone
        assert sorted(tuple(r) for r in reader.read("t1").collect()) == [(1, "a")]
        assert os.path.exists(reader._pending_path), "live manifest was destroyed"
        assert os.path.isdir(staged), "live run's staged dir was rolled back"
        # and single-writer still holds against the live cross-process run
        with pytest.raises(RuntimeError, match="already pending"):
            reader.begin_run(["t1"])
    finally:
        child.send_signal(signal.SIGKILL)
        child.wait()

    # owner provably dead (pid gone): the same read path now rolls back
    reader2 = StateStore(spark, root)
    assert sorted(tuple(r) for r in reader2.read("t1").collect()) == [(1, "a")]
    assert not os.path.exists(reader2._pending_path)
    assert not os.path.isdir(os.path.join(root, "t1", "v=1"))
    # the root is writable again
    reader2.begin_run(["t1"])
    reader2.abort_run()


def test_cross_host_manifest_needs_explicit_repair(spark, tmp_path):
    """A pending manifest owned by another HOST is unverifiable: reads leave
    it alone (and begin_run refuses); only repair(force=True) — the operator's
    verified-dead override — resolves it."""
    root = str(tmp_path / "xhost")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    os.makedirs(os.path.join(root, "t1", "v=1"))
    with open(os.path.join(root, "t1", "v=1", "part-0.parquet"), "w") as f:
        f.write("staged")
    with open(store._pending_path, "w") as f:
        json.dump(
            {
                "run_id": "deadbeef",
                "state": "PREPARED",
                "tables": {"t1": None},
                "owner": {"pid": 1, "pid_start": "42", "host": "some-other-host"},
            },
            f,
        )
    reader = StateStore(spark, root)
    assert sorted(tuple(r) for r in reader.read("t1").collect()) == [(1, "a")]
    assert os.path.exists(reader._pending_path)  # read did not destroy it
    assert reader.repair() is False  # non-forced repair respects liveness
    assert os.path.exists(reader._pending_path)
    with pytest.raises(RuntimeError, match="already pending"):
        reader.begin_run(["t1"])
    assert reader.repair(force=True) is True
    assert not os.path.exists(reader._pending_path)
    assert not os.path.isdir(os.path.join(root, "t1", "v=1"))


# ---------------------------------------------------------------------------
# Vacuum under the txn layer (VERDICT r6 item 8): retention run between
# begin_run and commit_run must never delete staged v= dirs it doesn't own.
# ---------------------------------------------------------------------------

def test_vacuum_between_begin_and_commit_spares_staged_dirs(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "vactxn"))
    for i in range(3):  # published history v0..v2
        store.write("t", spark.createDataFrame([(i, "r")], "k int, v string"))
    store.begin_run(["t"])
    v = store.write(
        "t", spark.createDataFrame([(9, "staged")], "k int, v string"),
        publish=False,
    )
    staged = os.path.join(store.root, "t", f"v={v}")
    assert v == 3 and os.path.isdir(staged)
    removed = store.vacuum("t", keep=1)
    # retention reaches BACKWARD only: superseded v0/v1 go, published v2 and
    # the in-flight staged v3 stay; the pending manifest is untouched
    assert removed == [0, 1]
    assert os.path.isdir(staged)
    assert os.path.exists(store._pending_path)
    store.commit_run({"t": v})
    assert sorted(tuple(r) for r in store.read("t").collect()) == [(9, "staged")]


def test_vacuum_on_committed_unrolled_manifest_rolls_forward_first(spark, tmp_path):
    """Crash after the COMMITTED flip but before the marker advance, owner
    dead: a later vacuum's snapshot read rolls the run forward, then applies
    retention to the now-published history — never to the committed version."""
    store = _two_table_store(spark, tmp_path, name="vaccommit")
    store.begin_run(["t1", "t2"])
    v1 = store.write("t1", spark.createDataFrame([(2, "b")], "k int, v string"),
                     publish=False)
    v2 = store.write("t2", spark.createDataFrame([(2, "y")], "k int, v string"),
                     publish=False)
    store._write_manifest(
        {"run_id": store._active_run, "state": "COMMITTED",
         "tables": {"t1": v1, "t2": v2}}
    )
    _simulate_death()
    fresh = StateStore(spark, store.root)
    removed = fresh.vacuum("t1", keep=1)
    assert removed == [0]  # pre-run snapshot vacuumed, committed v1 kept
    assert sorted(tuple(r) for r in fresh.read("t1").collect()) == [(2, "b")]
    assert sorted(tuple(r) for r in fresh.read("t2").collect()) == [(2, "y")]
    assert not os.path.exists(fresh._pending_path)


# ---------------------------------------------------------------------------
# Liveness edge cases (VERDICT r7 ask 6 + ADVICE r7): fork, exec-same-pid,
# unknowable /proc start times, duplicate-hostname boot ids, remove races.
# ---------------------------------------------------------------------------

_FORK_WRITER = """\
import os, sys
sys.path.insert(0, {repo!r})
from ortholog_pipeline_spark.sources.state import StateStore

root = {root!r}
store = StateStore(None, root)  # spark unused by the manifest protocol
store.begin_run(["t1"])
staged = os.path.join(root, "t1", "v=1")
os.makedirs(staged, exist_ok=True)
with open(os.path.join(staged, "part-0.parquet"), "w") as f:
    f.write("staged")

pid = os.fork()
if pid == 0:
    # forked child: DIFFERENT pid, but it inherits the parent's _LIVE_RUNS
    # copy AND the parent (the manifest's owner) is genuinely alive — a read
    # here must leave the parent's in-flight run untouched
    child = StateStore(None, root)
    child._recover()
    ok = os.path.exists(child._pending_path) and os.path.isdir(staged)
    os._exit(0 if ok else 17)
_, status = os.waitpid(pid, 0)
print("CHILD_OK" if os.waitstatus_to_exitcode(status) == 0 else "CHILD_FAIL",
      flush=True)
store.abort_run()
print("ABORTED" if not os.path.exists(store._pending_path) else "LEAK",
      flush=True)
"""


def test_forked_child_does_not_recover_parents_live_run(tmp_path):
    """A store opened in a forked child (same registry dict copied, different
    pid) must classify the parent's in-flight run as alive and leave it be."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "forked")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [_sys.executable, "-c", _FORK_WRITER.format(repo=repo, root=root)],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["CHILD_OK", "ABORTED"]


_EXEC_WRITER = """\
import os, sys
sys.path.insert(0, {repo!r})
from ortholog_pipeline_spark.sources.state import StateStore

root = {root!r}
store = StateStore(None, root)
store.begin_run(["t1"])
staged = os.path.join(root, "t1", "v=1")
os.makedirs(staged, exist_ok=True)
with open(os.path.join(staged, "part-0.parquet"), "w") as f:
    f.write("staged")
# exec replaces this process image: same pid, empty _LIVE_RUNS in the new
# image — the documented "same-pid restart after exec" dead tier
os.execv(sys.executable, [sys.executable, "-c", {second!r}])
"""

_EXEC_READER = """\
import os, sys
sys.path.insert(0, {repo!r})
from ortholog_pipeline_spark.sources.state import StateStore

root = {root!r}
reader = StateStore(None, root)
reader._recover()
manifest_gone = not os.path.exists(reader._pending_path)
staged_gone = not os.path.isdir(os.path.join(root, "t1", "v=1"))
print("RECOVERED" if manifest_gone and staged_gone else "STUCK", flush=True)
"""


def test_exec_same_pid_manifest_is_dead(tmp_path):
    """After exec the pid persists but the run's in-process registry is gone:
    the manifest's logical run is dead by the documented same-pid tier, and a
    read in the new image rolls the PREPARED run back."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "execd")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    second = _EXEC_READER.format(repo=repo, root=root)
    out = subprocess.run(
        [_sys.executable, "-c", _EXEC_WRITER.format(repo=repo, root=root, second=second)],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "RECOVERED"


def _pending_manifest(root: str, owner: dict) -> None:
    os.makedirs(os.path.join(root, "t1", "v=1"), exist_ok=True)
    with open(os.path.join(root, "t1", "v=1", "part-0.parquet"), "w") as f:
        f.write("staged")
    with open(os.path.join(root, "_RUN_PENDING"), "w") as f:
        json.dump(
            {"run_id": "feedface", "state": "PREPARED", "tables": {"t1": None},
             "owner": owner},
            f,
        )


def test_unknowable_pid_start_falls_back_to_existence(spark, tmp_path):
    """ADVICE r7 (medium): a same-host owner whose pid_start is None (writer
    on a /proc-less platform) must be judged by bare pid existence, not
    auto-classified dead."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "noproc")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))

    sleeper = subprocess.Popen([_sys.executable, "-c", "import time; time.sleep(120)"])
    try:
        owner = {
            "pid": sleeper.pid,
            "pid_start": None,  # unknowable on the writer's side
            "host": state_mod._HOST,
            "boot_id": state_mod._boot_id(),
        }
        _pending_manifest(root, owner)
        reader = StateStore(spark, root)
        assert reader._owner_alive(json.load(open(reader._pending_path)))
        reader._recover()
        assert os.path.exists(reader._pending_path), "live /proc-less writer rolled back"
    finally:
        sleeper.kill()
        sleeper.wait()
    # once the pid is gone, the same fallback classifies it dead
    reader2 = StateStore(spark, root)
    reader2._recover()
    assert not os.path.exists(reader2._pending_path)
    assert not os.path.isdir(os.path.join(root, "t1", "v=1"))


def test_same_hostname_different_boot_id_is_unverifiable(spark, tmp_path):
    """ADVICE r7 (low): duplicate hostnames across cloned containers — a
    matching hostname with a MISMATCHED boot id must not trust the local
    /proc table; the run is left alone until repair(force=True)."""
    root = str(tmp_path / "dupHost")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    owner = {
        "pid": 1,  # pid 1 exists locally (init) — exactly the wrong-table trap
        "pid_start": "999999999",
        "host": state_mod._HOST,
        "boot_id": "00000000-0000-0000-0000-000000000000",
    }
    _pending_manifest(root, owner)
    reader = StateStore(spark, root)
    assert sorted(tuple(r) for r in reader.read("t1").collect()) == [(1, "a")]
    assert os.path.exists(reader._pending_path), "cross-boot manifest destroyed"
    assert reader.repair() is False
    assert reader.repair(force=True) is True
    assert not os.path.exists(reader._pending_path)


def test_recover_tolerates_concurrent_manifest_removal(spark, tmp_path, monkeypatch):
    """ADVICE r7 (low): the loser of the os.remove race (two readers both pass
    the dead-owner check) must treat the vanished manifest as recovered."""
    root = str(tmp_path / "race")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    owner = {
        "pid": 2 ** 22 + 1234,  # no such pid: provably dead owner
        "pid_start": "1",
        "host": state_mod._HOST,
        "boot_id": state_mod._boot_id(),
    }
    _pending_manifest(root, owner)

    real_remove = os.remove

    def racing_remove(path, *a, **kw):
        if path.endswith("_RUN_PENDING"):
            real_remove(path)  # the OTHER reader wins the race...
            raise FileNotFoundError(path)  # ...and our own remove then misses
        return real_remove(path, *a, **kw)

    monkeypatch.setattr(state_mod.os, "remove", racing_remove)
    reader = StateStore(spark, root)
    # must not raise, and the run resolves exactly once
    assert sorted(tuple(r) for r in reader.read("t1").collect()) == [(1, "a")]
    assert not os.path.exists(reader._pending_path)


def test_candidate_join_validation():
    """ADVICE r7 (low): an invalid candidate_join surfaces as a ValueError
    naming the valid options, not a bare KeyError."""
    from ortholog_pipeline_spark.operators.dedup import editdist1_join

    with pytest.raises(ValueError, match="candidate_join must be one of.*foo"):
        editdist1_join(None, "s", candidate_join="foo")


# -- r9: heartbeat + machine-id liveness (VERDICT r8 ask 2, ADVICE r8 medium) --


def test_heartbeat_thread_touches_manifest_and_stops(spark, tmp_path, monkeypatch):
    """begin_run starts a heartbeat that refreshes the manifest mtime every
    interval; commit/abort stop it. The mtime IS the liveness signal on
    /proc-less hosts, so the writer side must actually emit it."""
    import time as _time

    monkeypatch.setattr(state_mod, "HEARTBEAT_INTERVAL_S", 0.1)
    store = _two_table_store(spark, tmp_path, "hb")
    store.begin_run(["t1"])
    try:
        m0 = os.path.getmtime(store._pending_path)
        deadline = _time.time() + 5
        while _time.time() < deadline:
            _time.sleep(0.15)
            if os.path.getmtime(store._pending_path) > m0:
                break
        assert os.path.getmtime(store._pending_path) > m0, "heartbeat never fired"
        assert store._hb_thread is not None and store._hb_thread.is_alive()
        hb = store._hb_thread
    finally:
        store.abort_run()
    assert store._hb_thread is None and store._hb_stop is None
    hb.join(timeout=5)
    assert not hb.is_alive()
    # manifest recorded the promise readers key the staleness horizon on
    store2 = _two_table_store(spark, tmp_path, "hb2")
    store2.begin_run(["t1"])
    try:
        with open(store2._pending_path) as f:
            owner = json.load(f)["owner"]
        assert owner["heartbeat_interval_s"] == 0.1
        assert owner["machine_id"] == state_mod._machine_id()
    finally:
        store2.abort_run()


def test_stale_heartbeat_recovers_procless_recycled_pid(spark, tmp_path):
    """VERDICT r8 ask 2: on a /proc-less host a dead run whose pid was
    recycled (pid EXISTS, identity unknowable) was permanently wedged. With a
    stale heartbeat (mtime untouched past the horizon) the reader may finally
    classify it dead and roll it back."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "staleHb")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    # a LIVE pid standing in for "recycled": identity unknowable (pid_start
    # None on the writer side), so only the heartbeat can tell dead from live
    sleeper = subprocess.Popen([_sys.executable, "-c", "import time; time.sleep(120)"])
    try:
        owner = {
            "pid": sleeper.pid,
            "pid_start": None,
            "host": state_mod._HOST,
            "boot_id": state_mod._boot_id(),
            "machine_id": state_mod._machine_id(),
            "heartbeat_interval_s": 0.5,
        }
        _pending_manifest(root, owner)
        p = os.path.join(root, "_RUN_PENDING")
        past = os.path.getmtime(p) - 60  # >> 0.5 * horizon factor
        os.utime(p, (past, past))
        reader = StateStore(spark, root)
        reader._recover()
        assert not os.path.exists(p), "stale-heartbeat run not recovered"
        assert not os.path.isdir(os.path.join(root, "t1", "v=1"))
    finally:
        sleeper.kill()
        sleeper.wait()


def test_fresh_heartbeat_keeps_procless_writer_alive(spark, tmp_path):
    """VERDICT r8 ask 2 (the other direction): a live /proc-less writer whose
    heartbeat is FRESH must never be rolled back — and a manifest with no
    heartbeat promise (older engine) keeps the conservative alive verdict."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "freshHb")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    sleeper = subprocess.Popen([_sys.executable, "-c", "import time; time.sleep(120)"])
    try:
        owner = {
            "pid": sleeper.pid,
            "pid_start": None,
            "host": state_mod._HOST,
            "boot_id": state_mod._boot_id(),
            "machine_id": state_mod._machine_id(),
            "heartbeat_interval_s": 30.0,
        }
        _pending_manifest(root, owner)
        p = os.path.join(root, "_RUN_PENDING")
        reader = StateStore(spark, root)
        reader._recover()
        assert os.path.exists(p), "live writer with fresh heartbeat rolled back"
        # no-promise manifest: heartbeat tier must not fire at all
        owner.pop("heartbeat_interval_s")
        _pending_manifest(root, owner)
        past = os.path.getmtime(p) - 3600
        os.utime(p, (past, past))
        StateStore(spark, root)._recover()
        assert os.path.exists(p), "pre-heartbeat manifest destroyed by staleness"
    finally:
        sleeper.kill()
        sleeper.wait()
        StateStore(spark, root).repair(force=True)


@pytest.mark.skipif(
    state_mod._machine_id() is None, reason="no machine-id on this host"
)
def test_same_machine_reboot_auto_recovers(spark, tmp_path):
    """ADVICE r8 (medium): boot-id mismatch alone is unverifiable, but a
    MATCHING boot-stable machine id proves 'this same machine rebooted' — the
    owner died with the old boot, so the run must auto-recover (the pre-r8
    behavior the boot-id tier silently removed). ADVICE r9 tightened the
    promise-less branch: a manifest with NO heartbeat promise (pre-heartbeat
    engine) may be a LIVE mixed-version writer on a cloned image, so the
    dead verdict additionally requires the manifest mtime to be past the
    default horizon — a fresh promise-less manifest is left alone."""
    root = str(tmp_path / "reboot")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    owner = {
        "pid": 1,
        "pid_start": "999999999",
        "host": state_mod._HOST,
        "boot_id": "00000000-0000-0000-0000-000000000000",  # previous boot
        "machine_id": state_mod._machine_id(),  # same machine
    }
    _pending_manifest(root, owner)
    reader = StateStore(spark, root)
    # FRESH promise-less manifest: possibly a live pre-heartbeat clone — kept
    reader._recover()
    assert os.path.exists(
        reader._pending_path
    ), "fresh promise-less mixed-version run destroyed (ADVICE r9)"
    # past the default horizon: the ordinary post-reboot auto-recovery
    p0 = reader._pending_path
    old = os.path.getmtime(p0) - state_mod._PROMISELESS_STALE_HORIZON_S - 60
    os.utime(p0, (old, old))
    StateStore(spark, root)._recover()
    assert not os.path.exists(p0), "post-reboot run not recovered"
    # heartbeat-aware manifest: cloned images can share the machine id, so a
    # FRESH heartbeat must protect the (possibly live clone's) run...
    owner["heartbeat_interval_s"] = 30.0
    _pending_manifest(root, owner)
    reader_hb = StateStore(spark, root)
    reader_hb._recover()
    assert os.path.exists(reader_hb._pending_path), "live-clone run destroyed"
    # ...and a STALE one proves the reboot: recovered
    p = reader_hb._pending_path
    past = os.path.getmtime(p) - 3600
    os.utime(p, (past, past))
    StateStore(spark, root)._recover()
    assert not os.path.exists(p), "stale post-reboot run not recovered"
    # different machine id: back to unverifiable — left alone
    owner.pop("heartbeat_interval_s")
    owner["machine_id"] = "not-this-machine"
    _pending_manifest(root, owner)
    reader2 = StateStore(spark, root)
    reader2._recover()
    assert os.path.exists(reader2._pending_path), "cloned-host run destroyed"
    assert reader2.repair(force=True)


def test_begin_run_error_names_boot_id_case_and_force_repair(spark, tmp_path):
    """ADVICE r8 (medium): the 'already pending' error must point at
    repair(force=True), and name the boot-id-mismatch situation when that is
    what blocked recovery."""
    root = str(tmp_path / "hint")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    owner = {
        "pid": 1,
        "pid_start": "999999999",
        "host": state_mod._HOST,
        "boot_id": "00000000-0000-0000-0000-000000000000",
        "machine_id": "some-other-machine",
    }
    _pending_manifest(root, owner)
    with pytest.raises(RuntimeError, match=r"boot id.*repair\(force=True\)"):
        StateStore(spark, root).begin_run(["t1"])
    # generic pending (cross-host owner): still points at the override
    owner = {"pid": 1, "pid_start": "1", "host": "elsewhere.example"}
    _pending_manifest(root, owner)
    with pytest.raises(RuntimeError, match=r"repair\(force=True\)"):
        StateStore(spark, root).begin_run(["t1"])
    StateStore(spark, root).repair(force=True)


def test_rollback_tolerates_concurrent_staged_dir_removal(spark, tmp_path, monkeypatch):
    """ADVICE r8 (low): two readers can both pass the dead-owner check and
    both reach the PREPARED rollback — the loser's rmtree sees the staged dir
    vanish mid-walk and must treat it as already-rolled-back, not crash the
    read path."""
    import shutil as _shutil

    root = str(tmp_path / "rmrace")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    owner = {
        "pid": 2 ** 22 + 4321,  # no such pid: provably dead
        "pid_start": "1",
        "host": state_mod._HOST,
        "boot_id": state_mod._boot_id(),
    }
    _pending_manifest(root, owner)

    real_rmtree = _shutil.rmtree

    def racing_rmtree(path, *a, **kw):
        if "v=" in os.path.basename(path):
            real_rmtree(path)  # the OTHER reader wins...
            raise FileNotFoundError(path)  # ...ours then misses mid-walk
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr("shutil.rmtree", racing_rmtree)
    reader = StateStore(spark, root)
    # must not raise; the staged dir is gone and the manifest resolved
    assert sorted(tuple(r) for r in reader.read("t1").collect()) == [(1, "a")]
    assert not os.path.exists(reader._pending_path)
    assert not os.path.isdir(os.path.join(root, "t1", "v=1"))
