"""Read-side serving layer — the dashboard the reference ships as a
Streamlit app (``streamlit 1.3.txt``), re-done as a thin, dependency-
free view over the gold pipeline (Streamlit isn't in the dependency
set; the engine parts — queries, caching, refresh — are identical).

Surface parity with the reference:

- working set = most recent rows by ``ts`` (``streamlit 1.3.txt:49-52``
  tail-100k + sort; here defined by timestamp, not file order);
- NOT-IN filter of quote mints (``:17-21,53``);
- top-100 recent transactions view (``:162``);
- per-mint risk scores, top-10 by safety (``:165-167``);
- per-token detail: banded HIGH/MEDIUM/LOW verdicts (``:115-151``,
  the *intended* 3-way band — not the KeyError branch, SURVEY §0)
  plus that token's recent transactions (``:170-181``);
- TTL snapshot caching (``:41-42`` ``st.cache_data(ttl=300)``) via
  :class:`TTLCache` with an injectable clock;
- periodic refresh loop (``:183-185``) via :func:`serve_http`'s
  meta-refresh, or any caller polling :meth:`Dashboard.overview`.

Everything data-shaped stays a DataFrame until the final ``collect()``
of a ≤100-row display page — the driver never holds the working set.
Each display page is collected once per snapshot and kept with it
(:class:`Snapshot`): the page's top-10 and newest-100 tables while the
snapshot loads, a token card on its first request. Requests between
reloads start no Spark job for a page already collected.
"""

from __future__ import annotations

import functools
import html
import logging
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.functions.banding import risk_band
from solana_etl_pipeline_spark.pipelines.bronze_silver import read_silver
from solana_etl_pipeline_spark.pipelines.gold import (
    EXCLUDED_MINTS,
    build_risk_gold,
    top_tokens,
)

#: Collected view results one snapshot keeps, least recently used
#: dropped first. The page's two tables plus the cards of the tokens
#: looked at within one reload fit many times over; a client naming
#: ever new (e.g. unknown) mints cannot grow the memo past it.
MEMO_ENTRIES = 256

_log = logging.getLogger(__name__)


class TTLCache:
    """``st.cache_data(ttl=...)`` parity: memoize a zero-arg loader for
    ``ttl_sec`` (monotonic clock injectable for tests).

    Thread-safe (the HTTP server is a ThreadingHTTPServer — two
    requests straddling an expiry must not both run the loader), and
    an optional ``releaser`` is called with each RETIRED value so
    holders of persisted DataFrames can unpersist them — without it a
    long-running dashboard leaks one persisted snapshot per TTL cycle.

    Two refresh-latency properties (ADVICE r5):

    * The loader runs OUTSIDE the lock — readers arriving during a
      refresh are served the previous (stale-by-under-one-poll)
      snapshot instead of queueing behind the reload; only the very
      first load (nothing to serve yet) blocks peers.
    * Release is deferred ONE generation: a replaced snapshot is
      retired, and released only when the NEXT refresh retires its
      successor — so a reader that fetched the old value just before
      expiry has a full TTL cycle to finish rendering from it before
      it is unpersisted. Steady-state memory cost: one extra snapshot.
    """

    def __init__(
        self,
        ttl_sec: float,
        clock: Callable[[], float] = time.monotonic,
        releaser: "Callable[[object], None] | None" = None,
    ):
        self.ttl_sec = ttl_sec
        self.clock = clock
        self.releaser = releaser
        self._value = None
        self._loaded_at: float | None = None
        self._retired = None
        self._loading = False
        self._gen = 0  # bumped by invalidate(); loads install against it
        self._cond = threading.Condition(threading.Lock())

    def get(self, loader: Callable[[], object]):
        with self._cond:
            while True:
                fresh = (
                    self._loaded_at is not None
                    and self.clock() - self._loaded_at < self.ttl_sec
                )
                if fresh:
                    return self._value
                if not self._loading:
                    break  # this thread refreshes
                if self._loaded_at is not None:
                    # refresh in flight elsewhere: serve the previous
                    # snapshot rather than serializing reads behind
                    # the loader
                    return self._value
                # first-ever load in flight: nothing to serve, wait
                self._cond.wait()
            self._loading = True
            gen = self._gen
        try:
            value = loader()
        except BaseException:
            with self._cond:
                self._loading = False
                self._cond.notify_all()
            raise
        with self._cond:
            to_release = self._retired
            self._retired = self._value
            self._value = value
            # An invalidate() that raced this load must not be
            # swallowed: the loader may have read pre-invalidation
            # inputs, so install the value (freshest available for
            # stale-serving) but already expired — the next get()
            # reloads instead of serving it as fresh for a full TTL.
            self._loaded_at = (
                self.clock() if self._gen == gen else float("-inf")
            )
            self._loading = False
            self._cond.notify_all()
        if to_release is not None and self.releaser is not None:
            self.releaser(to_release)
        return value

    def invalidate(self) -> None:
        """Force the next ``get`` to reload WITHOUT erasing presence:
        ``_loaded_at`` becomes ``-inf`` (expired), not ``None``
        (absent), so readers arriving while that reload is in flight
        still take the serve-stale path instead of queueing behind
        the loader — only the genuinely-first load ever blocks."""
        with self._cond:
            self._gen += 1
            if self._loaded_at is not None:
                self._loaded_at = float("-inf")


class Snapshot:
    """One load of silver: the persisted ``recent`` working set and
    ``gold`` table (``snap["recent"]``, ``snap["gold"]``), plus a memo
    of the ``Row``s each view collected from them.

    The frames cannot change until the next reload, so neither can a
    view's result. ``rows(view, *args)`` is :func:`_collect` behind a
    ``functools.lru_cache`` of at most :data:`MEMO_ENTRIES` results
    (thread-safe; a miss collects outside the cache's lock).
    """

    def __init__(self, recent: DataFrame, gold: DataFrame):
        self.frames = {"recent": recent, "gold": gold}
        self.rows = functools.lru_cache(maxsize=MEMO_ENTRIES)(
            functools.partial(_collect, recent, gold)
        )

    def __getitem__(self, name: str) -> DataFrame:
        return self.frames[name]

    def release(self) -> None:
        """Drop the memo, then unpersist the frames."""
        self.rows.cache_clear()
        for df in self.frames.values():
            df.unpersist()


def _collect(recent: DataFrame, gold: DataFrame, view: str, *args):
    """The display rows of ``("top", k)``, ``("recent", n)`` or
    ``("detail", mint, n_txns)``; a detail is (card rows, txn rows)."""
    if view == "top":
        (k,) = args
        return top_tokens(gold, k=k).collect()
    if view == "recent":
        (n,) = args
        return (
            recent.select("ts", "mint", "token_name", "type", "token_amount",
                          "from_account", "to_account")
            .limit(n)  # already ts-descending
            .collect()
        )
    mint, n_txns = args
    card = (
        gold.filter(F.col("mint") == mint)
        .select(
            "mint",
            "token_name",
            "safety_score",
            "jeet_risk_score",
            risk_band(F.col("jeet_risk_score")).alias("risk_verdict"),
            risk_band(F.col("ownership_risk")).alias("ownership_verdict"),
            risk_band(F.col("liquidity_risk")).alias("liquidity_verdict"),
            risk_band(F.col("txn_concentration")).alias(
                "concentration_verdict"
            ),
        )
        .collect()
    )
    txns = (
        recent.filter(F.col("mint") == mint)
        .select("ts", "type", "token_amount", "from_account", "to_account")
        .limit(n_txns)
        .collect()
    )
    return card, txns


class Dashboard:
    """The read-side app: silver in, display pages out.

    ``working_set_rows`` is the reference's tail-100k memory guard —
    but expressed as ``orderBy(desc(ts)).limit(n)`` (a TakeOrdered
    heap-merge), so "most recent" is defined by data, not file order.

    Display pages are collected once per snapshot and kept with it
    (:class:`Snapshot`): a reload collects the page's top-10 and
    newest-100 tables before readers can see the new snapshot, and a
    token card is collected on its first request. Every view returns
    fresh dicts, so a caller may mutate its result.
    """

    def __init__(
        self,
        spark: SparkSession,
        silver_path: str,
        token_names: DataFrame | None = None,
        working_set_rows: int = 100_000,
        data_ttl_sec: float = 300.0,
        clock: Callable[[], float] = time.monotonic,
    ):
        self.spark = spark
        self.silver_path = silver_path
        self.token_names = token_names
        self.working_set_rows = working_set_rows
        self._cache = TTLCache(data_ttl_sec, clock, releaser=Snapshot.release)

    # -- data ----------------------------------------------------------

    def _load(self) -> Snapshot:
        silver = read_silver(self.spark, self.silver_path)
        recent = (
            silver.filter(~F.col("mint").isin(EXCLUDED_MINTS))
            .orderBy(F.desc("ts"))
            .limit(self.working_set_rows)
        )
        # the working set feeds every view of a refresh cycle — persist
        # it once (the reference's 300 s parquet cache)
        recent = recent.persist()
        gold = build_risk_gold(recent, token_names=self.token_names)
        snap = Snapshot(recent, gold.persist())
        # the page's two tables, collected before the cache installs
        # the snapshot (the loader runs outside the cache's lock, so
        # readers keep the previous snapshot meanwhile)
        try:
            snap.rows("top", 10)
            snap.rows("recent", 100)
        except BaseException:
            snap.release()
            raise
        return snap

    def _snapshot(self) -> Snapshot:
        return self._cache.get(self._load)

    def refresh(self) -> None:
        """Invalidate so the next view re-reads silver. The replaced
        snapshot is released by the cache's one-generation retirement
        (NOT unpersisted here — a concurrent request thread may still
        be rendering from it)."""
        self._cache.invalidate()

    # -- views (each collects ≤ display-page rows once per snapshot) --

    def recent_transactions(self, n: int = 100) -> list[dict]:
        return [r.asDict() for r in self._snapshot().rows("recent", n)]

    def top_safest(self, k: int = 10) -> list[dict]:
        return [r.asDict() for r in self._snapshot().rows("top", k)]

    def token_detail(self, mint: str, n_txns: int = 20) -> dict:
        """Banded verdict card + recent transactions for one token
        (``streamlit 1.3.txt:115-151,170-181``)."""
        card, txns = self._snapshot().rows("detail", mint, n_txns)
        return {
            "card": card[0].asDict() if card else None,
            "transactions": [r.asDict() for r in txns],
        }

    # -- rendering -----------------------------------------------------

    def overview_text(self) -> str:
        """Plain-text overview: top-10 safest + top-25 recent txns."""
        out = ["== Top 10 safest tokens =="]
        for r in self.top_safest():
            out.append(
                f"{r['mint'][:12]:<14} {str(r.get('token_name'))[:16]:<18} "
                f"safety {r['safety_score']:>7.2f}  holders "
                f"{r['unique_holders']:>5}  events {r['total_events']:>6}"
            )
        out.append("")
        out.append("== Recent transactions ==")
        # the first 25 of the newest-100 page the snapshot already holds
        for r in self.recent_transactions(100)[:25]:
            out.append(
                f"{r['ts']} {str(r['type']):<10} {str(r['mint'])[:12]:<14} "
                f"amount {r['token_amount']}"
            )
        return "\n".join(out)

    def overview_html(self, refresh_sec: int = 60) -> str:
        """Minimal HTML page with meta-refresh — the reference's rerun
        slider (``streamlit 1.3.txt:183-185``)."""

        def table(rows: list[dict]) -> str:
            if not rows:
                return "<p>(empty)</p>"
            cols = list(rows[0])
            # Every cell is attacker-influenced (anyone can mint a
            # token whose on-chain name is a <script> payload and it
            # flows through silver into gold/recent) — escape it.
            head = "".join(f"<th>{html.escape(str(c))}</th>" for c in cols)
            body = "".join(
                "<tr>"
                + "".join(
                    f"<td>{html.escape(str(r[c]))}</td>" for c in cols
                )
                + "</tr>"
                for r in rows
            )
            return f"<table><tr>{head}</tr>{body}</table>"

        return (
            "<html><head>"
            f'<meta http-equiv="refresh" content="{refresh_sec}">'
            "<title>token risk</title></head><body>"
            "<h2>Top 10 safest tokens</h2>"
            + table(self.top_safest())
            + "<h2>Recent transactions</h2>"
            + table(self.recent_transactions(100))
            + "</body></html>"
        )


def serve_http(
    dashboard: Dashboard, port: int = 0, refresh_sec: int = 60
):
    """Serve the overview on localhost via stdlib http.server; returns
    the (started) server — caller owns shutdown. The page meta-refreshes
    every ``refresh_sec``; data re-reads silver on the TTL cadence."""
    import http.server

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_GET(self):
            # only the overview page exists; answering e.g.
            # /favicon.ico with the full page would run the top-k +
            # recent collects once more per browser refresh for
            # output the client discards
            if self.path.split("?", 1)[0] not in ("/", "/index.html"):
                self.send_response(404)
                self.end_headers()
                return
            try:
                body = dashboard.overview_html(refresh_sec).encode()
            except Exception:
                # the server keeps serving: record the failure and tell
                # the client, instead of dropping its connection
                _log.exception("rendering the overview failed")
                self.send_response(500)
                self.send_header("Content-Type", "text/plain; charset=utf-8")
                self.end_headers()
                self.wfile.write(b"500: the overview could not be rendered\n")
                return
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.end_headers()
            self.wfile.write(body)

    server = http.server.ThreadingHTTPServer(("127.0.0.1", port), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server
