"""Serving-layer tests: the dashboard surface over silver and the gold
table ``refresh_gold`` publishes for it (``streamlit 1.3.txt`` parity —
views, banded verdicts, TTL cache, HTTP refresh page)."""

from __future__ import annotations

import datetime
import itertools
import json
import os
import threading
import time
import urllib.error
import urllib.request

import pytest
from pyspark.sql import Row

from solana_etl_pipeline_spark import serving
from solana_etl_pipeline_spark.pipelines.gold import (
    EXCLUDED_MINTS,
    refresh_gold,
)
from solana_etl_pipeline_spark.serving import (
    CARD_TXNS,
    RECENT_ROWS,
    Dashboard,
    TTLCache,
    serve_http,
)
from solana_etl_pipeline_spark.sources.sinks import write_parquet
from tests.conftest import drain_silver
from tests.test_gold import _wrapped_doc


def _silver_fixture(spark, tmp_path, extra_docs=(), publish=True) -> str:
    """Drain silver at ``tmp_path/silver`` from two wrapped documents,
    a websocket message and ``extra_docs``, and publish its gold at
    ``tmp_path/gold`` unless ``publish`` is false. Called again on the
    same ``tmp_path``, it lands all of them again, and the drain's
    dedup appends only the new ``extra_docs``' rows."""
    docs = [
        _wrapped_doc(
            "mintDiverse",
            [f"s{i}" for i in range(4)],
            [(f"buyer{i}", f"holder{i}") for i in range(4)],
        ),
        _wrapped_doc(
            "mintConc", [f"c{i}" for i in range(4)], [("whale", "whale")] * 4
        ),
        *extra_docs,
    ]
    path = drain_silver(
        spark, tmp_path, helius=docs,
        ws=[json.dumps({"mint": "mintWs", "txType": "create"})])
    if publish:
        refresh_gold(spark, path, str(tmp_path / "gold"))
    return path


def _txn(mint: str, i: int, **cols) -> Row:
    """A silver row of ``mint``, its ``i``-th transaction, ``i`` minutes
    into 2024-01-01 unless ``cols`` say otherwise."""
    row = dict(
        description="", type="buy", source="websocket", fee=0,
        fee_payer="", signature=f"{mint}-{i}", slot=0,
        ts=datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i),
        token_name="T", token_symbol="T",
        from_account=f"a{i}", to_account=f"b{i}",
        token_amount=float(i), mint=mint, token_standard="",
    )
    row.update(cols)
    return Row(**row)


def _publish_rows(spark, tmp_path, rows: list[Row]) -> str:
    """Write silver from ``rows`` and publish its gold; returns the
    silver path."""
    path = str(tmp_path / "silver")
    write_parquet(spark.createDataFrame(rows), path)
    refresh_gold(spark, path, str(tmp_path / "gold"))
    return path


def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn()`` starts, counted under a job group of its
    own."""
    sc = spark.sparkContext
    group = f"probe-{next(_probes)}"
    sc.setJobGroup(group, "counted call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


_probes = itertools.count()


def test_ttl_cache_reloads_after_expiry():
    now = [0.0]
    loads = []
    cache = TTLCache(ttl_sec=300.0, clock=lambda: now[0])
    for t in (0.0, 100.0, 299.0, 300.0, 550.0, 600.0):
        now[0] = t
        cache.get(lambda: loads.append(t))
    # loaded at 0, re-loaded at 300 and 600 — never inside a TTL window
    assert loads == [0.0, 300.0, 600.0]


def test_dashboard_views_and_verdicts(spark, tmp_path):
    silver_path = _silver_fixture(spark, tmp_path)
    dash = Dashboard(spark, silver_path, working_set_rows=1000)

    top = dash.top_safest(k=2)
    assert top[0]["mint"] == "mintDiverse"  # diverse holders => safest

    txns = dash.recent_transactions(100)
    assert len(txns) == 9  # 4 + 4 helius rows + 1 websocket row
    # ts-descending ordering (nulls last is fine; check non-null prefix)
    stamps = [t["ts"] for t in txns if t["ts"] is not None]
    assert stamps == sorted(stamps, reverse=True)

    detail = dash.token_detail("mintConc")
    card = detail["card"]
    assert card["risk_verdict"] in ("HIGH", "MEDIUM", "LOW")
    # one whale doing everything => concentrated, risky
    assert card["safety_score"] < 60
    assert len(detail["transactions"]) == 4

    text = dash.overview_text()
    assert "mintDiverse" in text and "Top 10 safest" in text


def test_dashboard_ttl_and_refresh(spark, tmp_path):
    now = [0.0]
    silver_path = _silver_fixture(spark, tmp_path)
    dash = Dashboard(
        spark, silver_path, working_set_rows=1000,
        data_ttl_sec=300.0, clock=lambda: now[0],
    )
    first = dash._snapshot()
    now[0] = 100.0
    assert dash._snapshot() is first  # cached inside TTL
    now[0] = 400.0
    assert dash._snapshot() is not first  # expired -> reloaded
    reloaded = dash._snapshot()
    dash.refresh()
    assert dash._snapshot() is not reloaded  # explicit invalidation


def test_serve_http_renders_overview(spark, tmp_path):
    silver_path = _silver_fixture(spark, tmp_path)
    dash = Dashboard(spark, silver_path, working_set_rows=1000)
    server = serve_http(dash, port=0, refresh_sec=7)
    try:
        port = server.server_address[1]
        html = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/", timeout=30
        ).read().decode()
        assert 'http-equiv="refresh" content="7"' in html
        assert "mintDiverse" in html
        assert "<table>" in html
    finally:
        server.shutdown()
        server.server_close()


def test_ttl_cache_reloads_once_under_concurrent_gets():
    """Concurrent gets at expiry run the loader exactly once."""
    now = [0.0]
    loads = [0]
    cache = TTLCache(ttl_sec=10.0, clock=lambda: now[0])

    def loader():
        loads[0] += 1
        return f"snap{loads[0]}"

    assert cache.get(loader) == "snap1"
    now[0] = 20.0  # expired: the next get reloads
    threads = [
        threading.Thread(target=cache.get, args=(loader,)) for _ in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    assert loads[0] == 2  # one reload total, not one per thread
    assert cache.get(loader) == "snap2"


def test_ttl_cache_serves_stale_value_during_refresh():
    """A reader arriving while another thread runs the loader is served
    the previous snapshot immediately instead of queueing behind the
    reload (the loader runs outside the lock — ADVICE r5)."""
    now = [0.0]
    in_loader = threading.Event()
    release_loader = threading.Event()
    cache = TTLCache(ttl_sec=10.0, clock=lambda: now[0])

    calls = [0]

    def slow_loader():
        calls[0] += 1
        if calls[0] > 1:
            in_loader.set()
            assert release_loader.wait(timeout=30)
        return f"snap{calls[0]}"

    assert cache.get(slow_loader) == "snap1"
    now[0] = 20.0  # expired

    refresher = threading.Thread(target=cache.get, args=(slow_loader,))
    refresher.start()
    try:
        assert in_loader.wait(timeout=30)
        # loader is mid-flight on the other thread: this get must
        # return the stale snapshot immediately, not block
        t0 = time.monotonic()
        assert cache.get(slow_loader) == "snap1"
        assert time.monotonic() - t0 < 5.0
        assert calls[0] == 2  # no second concurrent reload
    finally:
        release_loader.set()
        refresher.join(timeout=30)
    assert cache.get(slow_loader) == "snap2"


def test_ttl_cache_invalidate_keeps_serve_stale_path():
    """invalidate() marks the snapshot expired WITHOUT erasing
    presence: a reader arriving while the post-invalidate reload is
    in flight is served the previous snapshot immediately — the old
    ``_loaded_at = None`` form made every such reader block behind
    the reload (review r15)."""
    now = [0.0]
    in_loader = threading.Event()
    release_loader = threading.Event()
    cache = TTLCache(ttl_sec=300.0, clock=lambda: now[0])
    calls = [0]

    def loader():
        calls[0] += 1
        if calls[0] > 1:
            in_loader.set()
            assert release_loader.wait(timeout=30)
        return f"snap{calls[0]}"

    assert cache.get(loader) == "snap1"
    cache.invalidate()  # explicit refresh, NOT expiry

    refresher = threading.Thread(target=cache.get, args=(loader,))
    refresher.start()
    try:
        assert in_loader.wait(timeout=30)
        t0 = time.monotonic()
        assert cache.get(loader) == "snap1"  # stale served, no block
        assert time.monotonic() - t0 < 5.0
        assert calls[0] == 2
    finally:
        release_loader.set()
        refresher.join(timeout=30)
    assert cache.get(loader) == "snap2"


def test_ttl_cache_invalidate_racing_load_is_not_lost():
    """An invalidate() that lands while a load is in flight must not
    be swallowed: the loader read pre-invalidation inputs, so its
    result installs EXPIRED and the next get() reloads instead of
    serving it as fresh for a full TTL (review r15)."""
    now = [0.0]
    in_loader = threading.Event()
    release_loader = threading.Event()
    cache = TTLCache(ttl_sec=300.0, clock=lambda: now[0])
    calls = [0]

    def loader():
        calls[0] += 1
        in_loader.set()
        assert release_loader.wait(timeout=30)
        in_loader.clear()
        return f"snap{calls[0]}"

    first = threading.Thread(target=cache.get, args=(loader,))
    first.start()
    try:
        assert in_loader.wait(timeout=30)
        cache.invalidate()  # lands mid-load
    finally:
        release_loader.set()
        first.join(timeout=30)
    # the raced load's value exists (stale-servable) but is NOT
    # fresh: the next get reloads
    release_loader.set()
    assert cache.get(loader) == "snap2"
    assert calls[0] == 2


def test_overview_html_escapes_hostile_token_names(spark, tmp_path):
    """Token names are attacker-controlled (anyone can mint a token
    named ``<script>...``); the HTML overview must escape every cell
    (review r15)."""
    payload = "<script>alert(1)</script>"
    path = _publish_rows(
        spark, tmp_path,
        [_txn(f"mint{i}", i, token_name=payload, token_symbol="X",
              from_account="a", to_account="b", token_amount=1.0)
         for i in range(3)],
    )
    dash = Dashboard(spark, path, working_set_rows=100)
    page = dash.overview_html()
    assert "<script>" not in page
    assert "&lt;script&gt;alert(1)&lt;/script&gt;" in page


def test_serve_http_404_for_non_root(spark, tmp_path):
    """Only the overview page exists; /favicon.ico must not run the
    full dashboard collects (review r15)."""
    silver_path = _silver_fixture(spark, tmp_path)
    dash = Dashboard(spark, silver_path, working_set_rows=1000)
    server = serve_http(dash, port=0)
    try:
        host, port = server.server_address
        page = urllib.request.urlopen(
            f"http://{host}:{port}/", timeout=30
        ).read().decode()
        assert "Top 10 safest" in page
        try:
            urllib.request.urlopen(
                f"http://{host}:{port}/favicon.ico", timeout=30
            )
            raise AssertionError("favicon.ico should 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()


def test_serve_http_answers_500_when_overview_fails(spark, tmp_path):
    """A view that raises answers HTTP 500 with a plain-text body
    instead of dropping the connection."""
    dash = Dashboard(spark, str(tmp_path / "no-such-silver"))
    server = serve_http(dash, port=0)
    try:
        host, port = server.server_address
        try:
            urllib.request.urlopen(f"http://{host}:{port}/", timeout=30)
            raise AssertionError("GET / should answer 500")
        except urllib.error.HTTPError as e:
            assert e.code == 500
            assert e.headers.get_content_type() == "text/plain"
            assert e.read()
    finally:
        server.shutdown()
        server.server_close()


def test_views_collect_once_per_snapshot(spark, tmp_path):
    """A second request of every view within one snapshot starts no
    Spark job and returns what the first did; after refresh() the
    views show rows written since, so no memo outlives its
    snapshot."""
    silver_path = _silver_fixture(spark, tmp_path)
    dash = Dashboard(spark, silver_path, working_set_rows=1000)

    def views():
        return (
            dash.top_safest(),
            dash.recent_transactions(),
            dash.token_detail("mintConc"),
            dash.token_detail("no-such-mint"),
            dash.overview_text(),
            dash.overview_html(),
        )

    first = views()
    second = []
    assert _jobs_of(spark, lambda: second.extend(views())) == 0
    assert tuple(second) == first

    new_doc = _wrapped_doc(
        "mintNew", [f"n{i}" for i in range(3)],
        [(f"nb{i}", f"nh{i}") for i in range(3)],
    )
    # appends to silver_path, then publishes its gold
    _silver_fixture(spark, tmp_path, [new_doc])
    dash.refresh()
    assert "mintNew" in {r["mint"] for r in dash.top_safest()}
    recent = dash.recent_transactions()
    assert len(recent) == len(first[1]) + 3
    assert "mintNew" in {r["mint"] for r in recent}


def test_unknown_mint_is_empty_and_results_are_copies(spark, tmp_path):
    """An unknown mint has no card and no rows, and mutating a view's
    result does not change the next one."""
    silver_path = _silver_fixture(spark, tmp_path)
    dash = Dashboard(spark, silver_path, working_set_rows=1000)
    for i in range(6):
        assert dash.token_detail(f"unknown{i}") == {
            "card": None, "transactions": [],
        }

    top, detail = dash.top_safest(), dash.token_detail("mintConc")
    recent = dash.recent_transactions()
    want_top = [dict(r) for r in top]
    want_detail = {
        "card": dict(detail["card"]),
        "transactions": [dict(t) for t in detail["transactions"]],
    }
    want_recent = [dict(r) for r in recent]
    top[0]["mint"] = "mutated"
    top.clear()
    detail["card"]["safety_score"] = -1.0
    detail["transactions"][0]["type"] = "mutated"
    recent[0]["type"] = "mutated"
    assert dash.top_safest() == want_top
    assert dash.token_detail("mintConc") == want_detail
    assert dash.recent_transactions() == want_recent


def test_token_detail_of_a_new_mint_starts_no_spark_job(spark, tmp_path):
    """Every card is collected in the load: a mint asked for the first
    time after it is a lookup, not a Spark job."""
    silver_path = _silver_fixture(spark, tmp_path)
    dash = Dashboard(spark, silver_path, working_set_rows=1000)
    dash._snapshot()
    cards = []
    assert _jobs_of(spark, lambda: cards.extend(
        dash.token_detail(m) for m in ("mintDiverse", "mintWs")
    )) == 0
    assert [c["card"]["mint"] for c in cards] == ["mintDiverse", "mintWs"]


def test_load_leaves_nothing_persisted(spark, tmp_path):
    """A load persists nothing; a snapshot holds Python rows only."""
    silver_path = _silver_fixture(spark, tmp_path)
    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    snap = Dashboard(spark, silver_path, working_set_rows=1000)._snapshot()
    assert len(jsc.getRDDStorageInfo()) == before
    assert {r["mint"] for r in snap.gold} == {
        "mintDiverse", "mintConc", "mintWs",
    }


def test_view_depth_limits(spark, tmp_path):
    """top_safest takes any k (every token when k exceeds their
    number); recent_transactions serves at most RECENT_ROWS rows."""
    silver_path = _silver_fixture(spark, tmp_path)
    dash = Dashboard(spark, silver_path, working_set_rows=1000)
    assert len(dash.top_safest(k=1000)) == 3
    assert len(dash.recent_transactions(RECENT_ROWS)) == 9
    with pytest.raises(ValueError):
        dash.recent_transactions(RECENT_ROWS + 1)
    with pytest.raises(ValueError):
        dash.top_safest(k=-1)


def test_card_lists_newest_transactions(spark, tmp_path):
    """A card lists min(CARD_TXNS, events) of the token's rows, the
    newest first."""
    events = {"mintMany": 25, "mintFew": 3}
    path = _publish_rows(
        spark, tmp_path,
        [_txn(mint, i) for mint, n in events.items() for i in range(n)],
    )
    dash = Dashboard(spark, path, working_set_rows=1000)
    for mint, n in events.items():
        txns = dash.token_detail(mint)["transactions"]
        stamps = sorted(
            (datetime.datetime(2024, 1, 1, 0, i) for i in range(n)),
            reverse=True,
        )
        assert len(txns) == min(CARD_TXNS, n)
        assert [t["ts"] for t in txns] == stamps[:CARD_TXNS]


def _tied_rows(hot: bool) -> list[Row]:
    """Silver rows whose timestamps tie: mints ``a``, ``b`` and ``c``
    share each transaction's signature and ``ts``, and three of a
    mint's transactions share a second; a quote-mint row is the newest
    and a websocket row has no ``ts``. With ``hot``, mint ``hot`` owns
    the newest 130 rows, two to a second, their signatures out of
    time order."""
    base = datetime.datetime(2024, 1, 1)
    rows = [
        _txn(m, i, signature=f"tx{i:02d}",
             ts=base + datetime.timedelta(seconds=i // 3))
        for m in "abc" for i in range(30)
    ]
    rows.append(_txn(EXCLUDED_MINTS[0], 0, ts=datetime.datetime(2025, 1, 1)))
    rows.append(_txn("ws", 0, ts=None))
    if hot:
        rows.extend(
            _txn("hot", i, signature=f"h{i * 7 % 130:03d}",
                 ts=base + datetime.timedelta(hours=1, seconds=i // 2))
            for i in range(130)
        )
    return rows


def _reference_snapshot(rows: list[Row], working_set_rows: int):
    """``recent`` and ``txns`` of a snapshot, computed in plain Python:
    the working set is the newest rows by (ts descending, no ts last,
    signature, mint)."""
    live = sorted(
        (r for r in rows if r.mint not in EXCLUDED_MINTS),
        key=lambda r: (r.signature, r.mint),
    )
    live.sort(key=lambda r: r.ts or datetime.datetime.min, reverse=True)
    working = live[:working_set_rows]
    recent = [
        {c: r[c] for c in serving.RECENT_COLS} for r in working[:RECENT_ROWS]
    ]
    txns: dict[str, list[dict]] = {}
    for r in working:
        card = txns.setdefault(r.mint, [])
        if len(card) < CARD_TXNS:
            card.append({c: r[c] for c in serving.TXN_COLS})
    return recent, txns


@pytest.mark.parametrize("hot, working_set_rows", [(True, 1000), (False, 7)])
def test_snapshot_rows_match_a_python_reference(
    spark, tmp_path, hot, working_set_rows
):
    """The one silver collect, split in Python, gives the newest rows
    and every card row for row, ties on ``ts`` included: when one mint
    owns the newest RECENT_ROWS rows, and when the working set is
    smaller than RECENT_ROWS."""
    rows = _tied_rows(hot)
    path = _publish_rows(spark, tmp_path, rows)
    snap = Dashboard(spark, path, working_set_rows=working_set_rows)._load()
    recent, txns = _reference_snapshot(rows, working_set_rows)
    assert snap.recent == recent
    assert snap.txns == txns
    assert [list(r) for r in snap.recent] == [
        list(serving.RECENT_COLS)
    ] * len(recent)
    if hot:
        assert len(snap.recent) == RECENT_ROWS
        assert {r["mint"] for r in snap.recent} == {"hot"}
        assert len(snap.txns["hot"]) == CARD_TXNS
    else:
        assert len(snap.recent) == working_set_rows
        assert sum(map(len, snap.txns.values())) == working_set_rows


def test_overview_reads_one_snapshot(spark, tmp_path, monkeypatch):
    """An overview page renders both tables from one load, even when
    the snapshot expires between them."""
    silver_path = _silver_fixture(spark, tmp_path)
    ticks = itertools.count(step=1000.0)
    dash = Dashboard(
        spark, silver_path, working_set_rows=1000,
        data_ttl_sec=1.0, clock=lambda: next(ticks),
    )
    loads = []
    load = dash._load
    monkeypatch.setattr(dash, "_load", lambda: loads.append(1) or load())
    dash.overview_html()
    assert len(loads) == 1
    dash.overview_text()
    assert len(loads) == 2


def test_snapshot_load_starts_two_jobs(spark, tmp_path):
    """A load collects the published gold, read by its declared schema
    (no footer job), and collects the newest rows and the card rows
    from silver in one job: 2 Spark jobs, where a footer read and
    separate silver collects took 4. Every load reads the version the
    pointer names, moved or not."""
    silver_path = _silver_fixture(spark, tmp_path)
    dash = Dashboard(spark, silver_path, working_set_rows=1000)
    assert _jobs_of(spark, dash._snapshot) == 2
    dash.refresh()
    assert _jobs_of(spark, dash._snapshot) == 2
    refresh_gold(spark, silver_path, str(tmp_path / "gold"))
    dash.refresh()
    assert _jobs_of(spark, dash._snapshot) == 2
    # an unpartitioned window moves all rows to one partition and logs
    # a warning on every load
    windows = [
        node for node in _plan_nodes(
            dash._newest_rows()._jdf.queryExecution().sparkPlan()
        )
        if node.nodeName() == "Window"
    ]
    assert windows
    assert all(not w.partitionSpec().isEmpty() for w in windows)


def _plan_nodes(node):
    """``node`` and every node under it, of a JVM Spark plan."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_load_rereads_a_version_deleted_under_it(spark, tmp_path, monkeypatch):
    """A load that resolved a version a later refresh is deleting reads
    the version published since: a version without ``_SUCCESS`` (which
    retention deletes first) is never served, and with the pointer
    unmoved the load raises."""
    silver_path = _silver_fixture(spark, tmp_path)
    stale = serving.published_gold(spark, silver_path)
    refresh_gold(spark, silver_path, str(tmp_path / "gold"))
    current = serving.published_gold(spark, silver_path)
    assert stale != current
    os.remove(os.path.join(stale.removeprefix("file:"), "_SUCCESS"))
    resolved = [stale, current]
    monkeypatch.setattr(
        serving, "published_gold", lambda *_: resolved.pop(0)
    )
    dash = Dashboard(spark, silver_path, working_set_rows=1000)
    assert len(dash.top_safest(k=1000)) == 3
    assert resolved == []
    resolved.extend([stale, stale])
    dash.refresh()
    with pytest.raises(FileNotFoundError, match="deleted"):
        dash.top_safest()


def test_serving_does_not_score_risk():
    """Risk is scored only by ``refresh_gold``."""
    assert not {"build_risk_gold", "risk_scores"} & set(vars(serving))


def _assert_unpublished(spark, dash: Dashboard) -> None:
    """Every view raises ``FileNotFoundError`` naming refresh_gold, and
    ``serve_http`` answers 500."""
    views = (
        dash.top_safest,
        dash.recent_transactions,
        lambda: dash.token_detail("mintConc"),
        dash.overview_text,
        dash.overview_html,
    )
    for view in views:
        with pytest.raises(FileNotFoundError, match="refresh_gold"):
            view()
    server = serve_http(dash, port=0)
    try:
        host, port = server.server_address
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(f"http://{host}:{port}/", timeout=30)
        assert err.value.code == 500
    finally:
        server.shutdown()
        server.server_close()


def test_views_fail_without_published_gold(spark, tmp_path):
    """Silver that no refresh has published gold for is not served."""
    silver_path = _silver_fixture(spark, tmp_path, publish=False)
    _assert_unpublished(spark, Dashboard(spark, silver_path))


def test_gold_lists_every_mint_beyond_the_working_set(spark, tmp_path):
    """Gold covers all of silver; ``working_set_rows`` bounds only the
    newest rows and the card rows, which come from the newest rows."""
    rows = [_txn(f"mint{m}", 5 * m + i) for m in range(6) for i in range(5)]
    path = _publish_rows(spark, tmp_path, rows)
    dash = Dashboard(spark, path, working_set_rows=8)
    mints = {f"mint{m}" for m in range(6)}
    assert {r["mint"] for r in dash.top_safest(k=1000)} == mints
    newest = sorted((r.ts for r in rows), reverse=True)[:8]
    assert [r["ts"] for r in dash.recent_transactions()] == newest
    card_rows = [
        t["ts"] for m in mints for t in dash.token_detail(m)["transactions"]
    ]
    assert sorted(card_rows, reverse=True) == newest


def test_dashboard_reads_while_gold_refreshes(spark, tmp_path):
    """One thread refreshes gold ten times while another reloads the
    dashboard and reads its full top list: every answer holds every
    mint, and no read raises."""
    silver_path = _silver_fixture(spark, tmp_path)
    gold_path = str(tmp_path / "gold")
    dash = Dashboard(spark, silver_path, working_set_rows=1000)
    mints = {r["mint"] for r in dash.top_safest(k=1000)}
    done = threading.Event()
    errors = []

    def refresher():
        try:
            for _ in range(10):
                refresh_gold(spark, silver_path, gold_path)
        except BaseException as e:  # reported by the asserting thread
            errors.append(e)
        finally:
            done.set()

    thread = threading.Thread(target=refresher)
    thread.start()
    answers = []
    try:
        while not done.is_set():
            dash.refresh()
            answers.append({r["mint"] for r in dash.top_safest(k=1000)})
    finally:
        thread.join(timeout=600)
    assert not errors
    assert answers and all(a == mints for a in answers)
