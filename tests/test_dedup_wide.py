"""Production-width sketch quality: the LSH candidate sets must contain
every true near-dup the exact baselines find (VERDICT r2 done-criterion)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sierradb_spark.operators import REGISTRY


def test_minhash_wide_lsh_covers_exact_near_dups(spark, sf_dir):
    row = REGISTRY.queries["minhash_wide_recall"].spark(spark, sf_dir).collect()[0]
    assert row["n_true"] > 0  # the audit is vacuous on a dup-free corpus
    assert row["n_true_covered"] == row["n_true"], (
        f"LSH missed {row['n_true'] - row['n_true_covered']} of "
        f"{row['n_true']} true near-dup pairs"
    )


def test_simhash64_bands_cover_hamming_radius(spark, sf_dir):
    """Pigeonhole check, empirically: every pair within Hamming distance 3
    of the full signature set appears in the band-join candidates."""
    sims = REGISTRY.queries["simhash64_signatures"].spark(spark, sf_dir)
    a, b = sims.alias("a"), sims.alias("b")
    chunk = lambda c, t: F.conv(  # noqa: E731
        F.substring(c, 1 + 4 * t, 4), 16, 10
    ).cast("long")
    ham = F.bit_count(chunk("a.simhash64", 0).bitwiseXOR(chunk("b.simhash64", 0)))
    for t in range(1, 4):
        ham = ham + F.bit_count(
            chunk("a.simhash64", t).bitwiseXOR(chunk("b.simhash64", t))
        )
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= 3)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        )
    )
    cand = REGISTRY.queries["simhash64_hamming_candidates"].spark(spark, sf_dir)
    t_rows = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in truth.collect()}
    c_rows = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in cand.collect()}
    assert t_rows, "no pairs within radius on this corpus — audit vacuous"
    assert t_rows == c_rows  # bands lose nothing and add nothing


def test_session_memos_are_isolated_per_sf_dir(spark):
    """The r7 session memos (banded signatures, candidate pairs, exact
    scored pairs, LPA labels, shingle sets) are keyed by (applicationId,
    sf_dir): asking the same session for two different scale factors
    must build and return SEPARATE pinned plans, and re-asking for the
    first must hit its own memo entry, not the second's. (The sf0.001
    and sf0.01 documents tables are content-identical 500-doc corpora,
    so result values cannot discriminate — the keying itself is the
    invariant under test.) A cross-contamination here would silently
    pass every single-sf test and fail only in a multi-sf session —
    exactly the shape of the driver's harness plus a user notebook."""
    from sierradb_spark.functions import dedup, dedup_wide, pipeline

    small, big = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    app = spark.sparkContext.applicationId

    bands_small = dedup_wide._wide_bands(spark, small)
    bands_big = dedup_wide._wide_bands(spark, big)
    assert bands_small is not bands_big  # separate builds per sf_dir
    assert dedup_wide._wide_bands(spark, small) is bands_small  # memo hit
    assert dedup_wide._wide_bands(spark, big) is bands_big
    assert (app, small) in dedup_wide._BANDS_MEMO
    assert (app, big) in dedup_wide._BANDS_MEMO

    # same invariant for the other memo families
    assert dedup_wide._wide_candidates_pinned(
        spark, small
    ) is not dedup_wide._wide_candidates_pinned(spark, big)
    assert pipeline._scored_near_dup_pairs(
        spark, small
    ) is not pipeline._scored_near_dup_pairs(spark, big)
    assert dedup._shingle_sets_pinned(
        spark, small
    ) is not dedup._shingle_sets_pinned(spark, big)

    # and each pinned plan still answers for ITS corpus (16 bands/doc
    # over the shingle-eligible docs of that dir)
    assert bands_small.count() == bands_big.count() == 8000


def test_memo_lifecycle_hooks(spark):
    """r8 (VERDICT r7 item 4 / ADVICE pipeline.py:220): the session
    memos pin localCheckpoint blocks for the application's lifetime, so
    a long-lived session on mutable data (or one that survives an
    executor loss) needs an escape hatch. clear_session_memos() must
    drop EVERY family; invalidate_sf_dir() must drop exactly one
    corpus's entries; and the next consumer after either must REBUILD
    (a fresh object) rather than serve the cleared plan."""
    from sierradb_spark.functions import dedup_wide
    from sierradb_spark.functions.memo import (
        clear_session_memos,
        invalidate_sf_dir,
        memo_families,
    )

    # Coverage contract: every memo family in the package registers
    # through functions.memo — a family added as a bare module-level
    # dict would silently escape the lifecycle hooks.
    assert set(memo_families()) == {
        "dedup.shingle_sets",
        "dedup.jaccard_pairs",
        "dedup_wide.bands",
        "dedup_wide.candidates",
        "dedup_wide.wide_labels",
        "pipeline.scored_pairs",
        "pipeline.labels",
        "bpe.merges",
        "bpe.encoded_vocab",
        "text.winnow_fps",
        "dedup_wide.simhash64",
        "classifier.lr_train",
    }

    small, big = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    app = spark.sparkContext.applicationId
    bands_small = dedup_wide._wide_bands(spark, small)
    dedup_wide._wide_bands(spark, big)

    # invalidate one corpus: its entry goes, the other survives warm
    dropped = invalidate_sf_dir(small)
    assert dropped >= 1
    assert (app, small) not in dedup_wide._BANDS_MEMO
    assert (app, big) in dedup_wide._BANDS_MEMO
    rebuilt = dedup_wide._wide_bands(spark, small)
    assert rebuilt is not bands_small  # stale plan NOT served
    assert rebuilt.count() == 8000  # and the rebuild is sound

    # clear everything: all families empty, next access rebuilds
    cleared = clear_session_memos()
    assert sum(cleared.values()) >= 2  # at least the two bands entries
    assert all(n == 0 for n in memo_families().values())
    assert dedup_wide._wide_bands(spark, small) is not rebuilt


def test_lr_train_memo(spark):
    """r12 (VERDICT r11 item 5): the LR trainer memoizes per
    (applicationId, sf_dir) — the second consumer in a session reuses
    the trained model and feature checkpoint instead of re-running the
    tokenize pass and the 8 GD rounds — and the memo obeys the shared
    lifecycle (invalidate_sf_dir drops it; the rebuild trains the SAME
    model, it being a pure function of the immutable corpus)."""
    from sierradb_spark.functions import classifier
    from sierradb_spark.functions.memo import invalidate_sf_dir

    small = "/root/testdata/sf0.001"
    app = spark.sparkContext.applicationId
    mo1, w1, ft1 = classifier._train(spark, small)
    mo2, w2, ft2 = classifier._train(spark, small)
    assert ft2 is ft1  # memo hit: the pinned checkpoint is reused
    assert w2 == w1 and mo2 == mo1
    # A caller cannot corrupt the memoized model through the weights it
    # was handed: they are immutable, and the next hit is unchanged.
    snapshot = list(w1)
    with pytest.raises(TypeError):
        w1[0] = 99.0
    assert list(classifier._train(spark, small)[1]) == snapshot
    assert (app, small) in classifier._LR_TRAIN_MEMO

    invalidate_sf_dir(small)
    assert (app, small) not in classifier._LR_TRAIN_MEMO
    mo3, w3, ft3 = classifier._train(spark, small)
    assert ft3 is not ft1  # stale checkpoint NOT served
    assert w3 == w1 and mo3 == mo1  # deterministic retrain


def test_executor_loss_listener_clears_memos(spark):
    """r9 (VERDICT r8 item 5): the documented manual escape hatch —
    "call clear_session_memos() after an executor loss, its
    localCheckpoint blocks died" — made automatic AND targeted. The
    listener is auto-installed by get_spark for NON-local masters only
    (executor loss is impossible in local[*], and each bus event costs
    a py4j round-trip), so this test opts in explicitly, then drives
    simulated SparkListenerExecutorRemoved events through the REAL
    listener bus: one for an executor that was never alive at any memo
    build (memos must SURVIVE — routine dynamic-allocation removals
    must not nuke the cache) and one for the executor in the entries'
    build-time stamp (memos must clear and the next consumer
    rebuild)."""
    import time

    from sierradb_spark.functions import dedup_wide
    from sierradb_spark.functions.memo import (
        _LISTENERS,
        install_executor_loss_listener,
        memo_families,
        uninstall_executor_loss_listener,
    )

    def _post_removal(exec_id: str) -> None:
        jvm = spark.sparkContext._gateway.jvm
        event = jvm.org.apache.spark.scheduler.SparkListenerExecutorRemoved(
            int(time.time() * 1000), exec_id, "simulated loss"
        )
        spark.sparkContext._jsc.sc().listenerBus().post(event)
        deadline = time.time() + 30  # the bus is async
        while time.time() < deadline and exec_id not in listener.removals:
            time.sleep(0.1)
        assert exec_id in listener.removals

    app = spark.sparkContext.applicationId
    # local factory sessions must NOT have auto-installed the listener
    assert app not in _LISTENERS

    listener = install_executor_loss_listener(spark)
    assert listener is not None
    # idempotent per application
    assert install_executor_loss_listener(spark) is listener
    try:
        small = "/root/testdata/sf0.001"
        before = dedup_wide._wide_bands(spark, small)
        key = (app, small)
        assert key in dedup_wide._BANDS_MEMO
        # local-mode build stamp: blocks live on the driver executor
        assert dedup_wide._BANDS_MEMO.built_on[key] == frozenset({"driver"})

        # 1) an executor absent from every build stamp is removed,
        #    through the REAL bus (wiring proof): the memo stays warm
        #    (same object served)
        _post_removal("exec-joined-later")
        assert dedup_wide._BANDS_MEMO.get(key) is before
        assert dedup_wide._wide_bands(spark, small) is before

        # 2) the stamped executor is removed: exactly those entries go,
        #    and the next consumer rebuilds instead of serving the
        #    dead-block plan. Invoked DIRECTLY (duck-typed event), not
        #    through the bus: posting a fake removal of "driver" — the
        #    real local-mode executor — poisons Spark's own listeners
        #    (heartbeat tracking drops the executor, and ~60 failed
        #    10 s heartbeats later the executor self-terminates, which
        #    killed the JVM ~10 min into two full-suite runs before
        #    this was traced).
        class _FakeRemoval:
            def executorId(self):
                return "driver"

        listener.onExecutorRemoved(_FakeRemoval())
        assert "driver" in listener.removals
        assert all(n == 0 for n in memo_families().values())
        rebuilt = dedup_wide._wide_bands(spark, small)
        assert rebuilt is not before
        assert rebuilt.count() == 8000
    finally:
        assert uninstall_executor_loss_listener(spark)
        assert app not in _LISTENERS


def test_memo_invalidation_releases_checkpoint_blocks(spark):
    """r10 (VERDICT r9 item 3): dropping a memo entry must free its
    localCheckpoint blocks from executor storage deterministically, not
    leave them to Python GC + the ContextCleaner (in a long-lived
    session cycling sf_dirs, dead blocks otherwise linger). Plain
    ``df.unpersist()`` is a no-op for checkpoint blocks — they belong
    to the internal RDD behind the LogicalRDD — so this pins the
    analyzed-plan route memo._release_blocks takes."""
    from sierradb_spark.functions import dedup_wide
    from sierradb_spark.functions.memo import invalidate_sf_dir

    sc = spark.sparkContext
    fake_sf = "/tmp/memo-unpersist-fake-sf"
    key = (sc.applicationId, fake_sf)
    df = (
        spark.range(0, 50_000)
        .selectExpr("id", "id * 2 as x")
        .localCheckpoint(eager=True)
    )
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()

    def cached_ids() -> set:
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    assert rdd_id in cached_ids()
    dedup_wide._BANDS_MEMO[key] = df
    assert invalidate_sf_dir(fake_sf) == 1
    assert key not in dedup_wide._BANDS_MEMO
    assert rdd_id not in cached_ids()  # blocks freed NOW, not at GC


def test_memo_insert_skipped_when_invalidation_overlaps_build(spark):
    """r10 (ADVICE r9 memo.py:73, the stamp race): every builder runs
    get-miss -> build -> insert; an invalidation processed INSIDE that
    window (an executor-removal event can land on the listener thread
    before the insert) used to be dodged — the entry was stamped with
    the post-removal live set and permanently cached a plan referencing
    dead blocks. The insert must now refuse to cache instead."""
    import warnings

    from sierradb_spark.functions import dedup_wide
    from sierradb_spark.functions.memo import invalidate_sf_dir

    fake_sf = "/tmp/memo-race-fake-sf"
    key = (spark.sparkContext.applicationId, fake_sf)
    memo = dedup_wide._BANDS_MEMO

    assert memo.get(key) is None  # build start (snapshots the epoch)
    invalidate_sf_dir(fake_sf)  # overlapping invalidation
    df = spark.range(10).localCheckpoint(eager=True)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        memo[key] = df  # insert at build end
    assert key not in memo  # NOT cached — would dodge the invalidation
    assert any("skipped" in str(r.message) for r in rec)

    # a clean retry (no invalidation inside the window) caches normally
    assert memo.get(key) is None
    memo[key] = df
    assert memo.get(key) is df
    del memo[key]


def test_uninstalled_listener_ignores_events(spark):
    """r10 (ADVICE r9 memo.py:244): ``removeSparkListener`` can
    silently no-op — py4j creates a fresh Java proxy per gateway
    crossing and the ListenerBus removes by reference equality — so
    uninstall deactivates the Python side via the ``detached`` flag.
    Verified the way the ADVICE prescribes: re-deliver a removal after
    uninstall and assert memos survive."""
    from sierradb_spark.functions import dedup_wide
    from sierradb_spark.functions.memo import (
        install_executor_loss_listener,
        uninstall_executor_loss_listener,
    )

    listener = install_executor_loss_listener(spark)
    assert listener is not None
    assert uninstall_executor_loss_listener(spark)
    assert listener.detached

    small = "/root/testdata/sf0.001"
    before = dedup_wide._wide_bands(spark, small)

    class _FakeRemoval:  # direct call, never a real-bus "driver" post
        def executorId(self):
            return "driver"

    listener.onExecutorRemoved(_FakeRemoval())
    assert listener.removals == []  # detached: event not even recorded
    assert dedup_wide._wide_bands(spark, small) is before  # memo warm


def test_memo_churn_does_not_leak_blocks(spark):
    """r10: the deterministic-release claim under REPETITION — a
    long-lived session cycling invalidate/rebuild on the same corpus
    must hold executor storage flat, not accumulate one dead
    checkpoint per cycle (pre-r10 behavior: dropped entries waited for
    Python GC + ContextCleaner, so N cycles could pin N generations of
    blocks). Five cycles, then assert the number of cached RDDs never
    grew beyond the steady-state count."""
    from sierradb_spark.functions import dedup_wide
    from sierradb_spark.functions.memo import invalidate_sf_dir

    sc = spark.sparkContext
    sf = "/root/testdata/sf0.001"

    def n_cached() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    dedup_wide._wide_bands(spark, sf).count()
    steady = n_cached()
    for _ in range(5):
        invalidate_sf_dir(sf)
        dedup_wide._wide_bands(spark, sf).count()
        assert n_cached() <= steady, (
            f"cached RDDs grew past steady-state {steady} under churn"
        )


def test_failed_build_leaves_no_pending_snapshot(spark, monkeypatch):
    """r11 (VERDICT item 4 / ADVICE memo.py:156): a builder that raises
    between its get-miss and its insert must not leave its build-start
    snapshot in ``_pending`` forever — pending == in-flight builds. The
    pending_guard wrapper pops it on the way out; the next build caches
    normally."""
    import pytest as _pytest

    from sierradb_spark.functions import dedup_wide
    from sierradb_spark.functions.memo import invalidate_sf_dir

    sf = "/root/testdata/sf0.001"
    key = (spark.sparkContext.applicationId, sf)
    memo = dedup_wide._BANDS_MEMO
    invalidate_sf_dir(sf)  # start cold
    assert key not in memo

    boom = RuntimeError("builder died mid-flight")

    def _raise(*a, **k):
        raise boom

    monkeypatch.setattr(dedup_wide, "wide_bands_for", _raise)
    with _pytest.raises(RuntimeError, match="mid-flight"):
        dedup_wide._wide_bands(spark, sf)
    # _pending entries are (key, thread id) scoped (r11 review)
    assert not any(k == key for (k, _tid) in memo._pending)
    assert key not in memo

    monkeypatch.undo()
    rebuilt = dedup_wide._wide_bands(spark, sf)
    assert memo.get(key) is rebuilt  # next build caches normally
    assert not any(k == key for (k, _tid) in memo._pending)


def test_insert_refusal_is_scoped_to_the_key(spark):
    """r11 (ADVICE memo.py:59): the insert-time invalidation guard is
    scoped — an ``invalidate_sf_dir`` for a DIFFERENT corpus inside the
    build window must not refuse the cache (pre-r11: any epoch movement
    starved long builds under churn), while a matching-sf_dir
    invalidation, an executor removal, or a full clear still refuses."""
    import warnings

    from sierradb_spark.functions import dedup_wide
    from sierradb_spark.functions.memo import (
        clear_session_memos,
        invalidate_executor,
        invalidate_sf_dir,
    )

    memo = dedup_wide._BANDS_MEMO
    key = (spark.sparkContext.applicationId, "/tmp/memo-scope-sf-A")

    def build_with_overlap(overlap) -> bool:
        """True if the insert cached."""
        if key in memo:
            del memo[key]
        assert memo.get(key) is None  # build start
        overlap()
        df = spark.range(5).localCheckpoint(eager=True)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            memo[key] = df
        cached = key in memo
        if key in memo:
            del memo[key]
        return cached

    # unrelated corpus invalidated mid-build: caches normally
    assert build_with_overlap(
        lambda: invalidate_sf_dir("/tmp/memo-scope-sf-OTHER")
    )
    # same corpus: refuses (would resurrect a pre-mutation pass)
    assert not build_with_overlap(
        lambda: invalidate_sf_dir("/tmp/memo-scope-sf-A")
    )
    # executor removal: refuses (blocks may have died mid-build; an
    # executor that joined and died inside the window is invisible to
    # both stamp snapshots, so there is no per-key narrowing)
    assert not build_with_overlap(
        lambda: invalidate_executor("exec-mid-build")
    )
    # full clear: refuses
    assert not build_with_overlap(lambda: clear_session_memos())


def test_hit_path_fail_cannot_unguard_a_concurrent_build():
    """r11 review: ``fail`` (the pending_guard finally, a no-op on the
    hit path) must be THREAD-scoped. Pre-fix it popped by key alone, so
    a hit on T1 whose entry was then invalidated could strip T2's
    in-flight build-start snapshot — and T2's insert, arriving with no
    snapshot, sailed past the invalidation-overlap guard and cached a
    pre-mutation pass the completed invalidation could no longer drop.
    Pure-unit: the guard is epoch-based, no Spark needed."""
    import threading
    import warnings

    from sierradb_spark.functions import memo as M

    d = M._MemoDict()
    key = ("app-race", "/tmp/memo-race-sf")
    d[key] = "seed"  # entry present...
    assert d.get(key) == "seed"  # ...so T1's get is a HIT: no snapshot
    del d[key]  # an invalidation then drops the key

    started = threading.Event()
    resume = threading.Event()
    cached: list[bool] = []

    def t2_build():
        assert d.get(key) is None  # miss: registers T2's snapshot
        started.set()
        assert resume.wait(10)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            d[key] = "built over pre-mutation data"
        cached.append(key in d)

    t2 = threading.Thread(target=t2_build)
    t2.start()
    assert started.wait(10)
    d.fail(key)  # T1's hit-path finally — must NOT strip T2's snapshot
    assert any(k == key for (k, _tid) in d._pending), (
        "hit-path fail stripped the concurrent build's snapshot"
    )
    M.invalidate_sf_dir("/tmp/memo-race-sf")  # overlaps T2's build
    resume.set()
    t2.join(10)
    assert cached == [False], (
        "T2's insert dodged the invalidation-overlap guard"
    )
    assert not any(k == key for (k, _tid) in d._pending)


def test_begin_subjects_read_bypassing_builders_to_the_guard():
    """r11 review: a builder that skips the memo read (the BPE learn
    loop's ``use_memo=False`` benchmark mode) but still refreshes the
    entry used to insert with NO build-start snapshot — bypassing the
    invalidation-overlap guard entirely. ``begin`` registers the
    snapshot without the read; the insert then refuses normally when a
    matching invalidation overlapped the build."""
    import warnings

    from sierradb_spark.functions import memo as M

    d = M._MemoDict()
    key = ("app-begin", "/tmp/memo-begin-sf")
    d.begin(key)  # build start, read path deliberately skipped
    M.invalidate_sf_dir("/tmp/memo-begin-sf")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        d[key] = "stale learn"
    assert key not in d, "bypass insert dodged the overlap guard"

    # clean window: begin -> insert caches normally
    d.begin(key)
    d[key] = "fresh learn"
    assert d.get(key) == "fresh learn"
    assert not any(k == key for (k, _tid) in d._pending)


def test_successful_invalidation_warn_escalation_is_contained(spark):
    """r11 review: the success-path warn in onExecutorRemoved runs
    AFTER the targeted invalidation already succeeded; under
    warnings-as-errors (pytest filterwarnings=error and the like) its
    escalation must not reach the outer except, which would misread it
    as a LOST invalidation — recording a bogus error and wiping every
    family instead of just the targeted entries."""
    import warnings

    from sierradb_spark.functions import dedup_wide, memo as M

    listener = M.ExecutorLossListener()
    memo = dedup_wide._BANDS_MEMO
    key = (spark.sparkContext.applicationId, "/tmp/memo-warnerr-sf")
    memo[key] = spark.range(3).localCheckpoint(eager=True)
    memo.built_on[key] = None  # conservative: matches ANY removal

    survivor_key = (spark.sparkContext.applicationId, "/tmp/memo-warnerr-B")
    memo[survivor_key] = spark.range(3).localCheckpoint(eager=True)
    memo.built_on[survivor_key] = frozenset({"driver"})

    class _FakeRemoval:
        def executorId(self):
            return "warn-escalation-exec"

    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            listener.onExecutorRemoved(_FakeRemoval())
        assert not listener.errors, (
            "escalated success-path warning misread as a lost "
            "invalidation"
        )
        assert key not in memo  # the targeted drop itself happened
        # stamped non-matching entry survives: no fallback full clear
        assert survivor_key in memo
    finally:
        if survivor_key in memo:
            del memo[survivor_key]


def test_listener_handler_failure_is_observable(spark):
    """r11 (ADVICE memo.py:367): if the targeted invalidation itself
    raises on the callback thread, the failure must be recorded and the
    handler must degrade to the blunt full clear — a silently LOST
    invalidation is the exact failure mode the listener exists to
    prevent."""
    from sierradb_spark.functions import dedup_wide, memo

    listener = memo.ExecutorLossListener()
    sf = "/root/testdata/sf0.001"
    key = (spark.sparkContext.applicationId, sf)
    dedup_wide._wide_bands(spark, sf)
    assert key in dedup_wide._BANDS_MEMO

    class _FakeRemoval:
        def executorId(self):
            return "driver"

    orig = memo.invalidate_executor
    memo.invalidate_executor = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("targeted invalidation broke")
    )
    try:
        listener.onExecutorRemoved(_FakeRemoval())  # must not raise
    finally:
        memo.invalidate_executor = orig

    assert listener.errors and listener.errors[0][0] == "driver"
    assert "targeted invalidation broke" in listener.errors[0][1]
    # fallback full clear ran: the memo did NOT survive the failure
    assert key not in dedup_wide._BANDS_MEMO


def test_uninstall_removes_the_jvm_proxy_from_the_bus(spark):
    """r11 (VERDICT item 2): registration keeps the EXACT Java proxy in
    a JVM-side holder, so uninstall's removeSparkListener
    reference-matches and the bus's listener count returns to baseline
    — no leaked per-event py4j round-trip for the session's remainder
    (pre-r11: py4j minted a fresh proxy per crossing and the remove
    silently no-opped; verified live: count stayed at baseline+1)."""
    from sierradb_spark.functions.memo import (
        install_executor_loss_listener,
        uninstall_executor_loss_listener,
    )

    jsc = spark.sparkContext._jsc.sc()

    def n_listeners() -> int:
        return jsc.listenerBus().listeners().size()

    baseline = n_listeners()
    listener = install_executor_loss_listener(spark)
    assert listener is not None
    assert n_listeners() == baseline + 1
    assert uninstall_executor_loss_listener(spark)
    assert n_listeners() == baseline  # actually removed, not leaked
    assert listener.detached


def test_overlap_scoping_matrix_pure():
    """Unit matrix for memo._overlap_can_affect (no Spark): sf_dir
    events scope by key, executor/clear events hit everything, log
    truncation and non-standard keys degrade conservatively."""
    import sierradb_spark.functions.memo as m

    saved_epoch, saved_events = m._REMOVAL_EPOCH, list(m._EVENTS)
    try:
        m._EVENTS.clear()
        m._REMOVAL_EPOCH = 0
        key = ("app", "/sf/A")
        assert not m._overlap_can_affect(0, key)  # no events
        m._REMOVAL_EPOCH = 1
        m._record_event("sf_dir", "/sf/B")
        assert not m._overlap_can_affect(0, key)  # other corpus
        m._REMOVAL_EPOCH = 2
        m._record_event("sf_dir", "/sf/A")
        assert m._overlap_can_affect(0, key)  # matching corpus
        assert m._overlap_can_affect(1, key)
        m._REMOVAL_EPOCH = 3
        m._record_event("executor", "7")
        assert m._overlap_can_affect(2, key)  # removal: hits all
        m._REMOVAL_EPOCH = 4
        m._record_event("clear", None)
        assert m._overlap_can_affect(3, key)  # clear: hits all
        assert m._overlap_can_affect(3, "weird-key")  # non-tuple key
        assert not m._overlap_can_affect(4, "weird-key")
        m._EVENTS.clear()  # simulate deque eviction
        m._REMOVAL_EPOCH = 10
        assert m._overlap_can_affect(5, key)  # truncated: conservative
    finally:
        m._EVENTS.clear()
        m._EVENTS.extend(saved_events)
        m._REMOVAL_EPOCH = saved_epoch


def test_every_memo_writing_builder_is_lifecycle_guarded():
    """r11 review: pending_guard is call-site discipline, so nothing
    stopped a FUTURE memo family's builder from shipping without it —
    silently reintroducing the permanent-_pending leak (and, for
    read-bypassing builders, the unguarded insert). Enforce the
    convention structurally: every function in the package that
    assigns into a ``*_MEMO`` store must either carry the
    ``@pending_guard`` decorator or call ``.begin(`` / ``.get(`` on
    that store before the insert (build-start snapshot registered
    either way; the decorator also guarantees the fail-path pop)."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "sierradb_spark"
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            src = ast.get_source_segment(py.read_text(), node) or ""
            writes = [
                t.value.id
                for st in ast.walk(node)
                if isinstance(st, ast.Assign)
                for t in st.targets
                if isinstance(t, ast.Subscript)
                and isinstance(t.value, ast.Name)
                and t.value.id.endswith("MEMO")
            ]
            if not writes:
                continue
            decorated = any(
                (isinstance(d, ast.Call) and getattr(d.func, "id", "") == "pending_guard")
                for d in node.decorator_list
            )
            snapshot_taken = any(
                f"{m}.get(" in src or f"{m}.begin(" in src for m in writes
            )
            if not (decorated or snapshot_taken):
                offenders.append(f"{py.name}:{node.lineno} {node.name} -> {writes}")
    assert not offenders, (
        "memo-writing builders without a lifecycle guard "
        "(add @pending_guard(<MEMO>) and a get/begin build-start "
        f"snapshot): {offenders}"
    )
