"""Read-side serving layer — the dashboard the reference ships as a
Streamlit app (``streamlit 1.3.txt``), re-done as a thin, dependency-
free view over the gold pipeline (Streamlit isn't in the dependency
set; the engine parts — queries, caching, refresh — are identical).

Surface parity with the reference:

- per-mint risk from the gold table ``pipelines.gold.refresh_gold``
  publishes for the silver path, not re-scored on every reload as the
  reference's cache expiry does (``streamlit 1.3.txt:41-52,83-113``);
- working set = most recent rows by ``ts`` (``streamlit 1.3.txt:49-52``
  tail-100k + sort; here defined by timestamp, not file order), the
  source of the recent-transactions page and the token cards' rows;
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

Like the reference's pandas frame, a snapshot is the answers held in
memory: a reload collects everything a view can return into a
:class:`Snapshot` of plain Python rows, so no view starts a Spark job.
The driver holds the published gold table (one row per mint of all of
silver), :data:`RECENT_ROWS` rows, and up to :data:`CARD_TXNS` rows per
mint of the working set; the last two are bounded by the working set's
size, ``Dashboard(working_set_rows=)``, as the reference's pandas
tail-100k is. A reload starts two Spark jobs: the gold collect, read by
its declared schema (``schemas.RISK_GOLD``, so no job infers one), and
one collect from silver that holds both the newest rows and the card
rows. Nothing is persisted.
"""

from __future__ import annotations

import html
import logging
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.functions.banding import risk_band
from solana_etl_pipeline_spark.pipelines.bronze_silver import read_silver
from solana_etl_pipeline_spark.pipelines.gold import (
    EXCLUDED_MINTS,
    gold_committed,
    published_gold,
)
from solana_etl_pipeline_spark.schemas import RISK_GOLD

#: Rows of the newest-transactions page (``streamlit 1.3.txt:162``),
#: the most :meth:`Dashboard.recent_transactions` can return.
RECENT_ROWS = 100
#: Newest transactions listed on a token card.
CARD_TXNS = 20
#: Columns of a newest-transactions row, and of a card's transaction.
RECENT_COLS = ("ts", "mint", "token_name", "type", "token_amount",
               "from_account", "to_account")
TXN_COLS = ("ts", "type", "token_amount", "from_account", "to_account")

_log = logging.getLogger(__name__)


class TTLCache:
    """``st.cache_data(ttl=...)`` parity: memoize a zero-arg loader for
    ``ttl_sec`` (monotonic clock injectable for tests).

    Thread-safe: the HTTP server is a ThreadingHTTPServer, and two
    requests straddling an expiry must not both run the loader. The
    loader runs OUTSIDE the lock (ADVICE r5): readers arriving during
    a refresh are served the previous (stale-by-under-one-poll) value
    instead of queueing behind the reload; only the very first load
    (nothing to serve yet) blocks peers. A replaced value is dropped,
    not closed: a reader still rendering from it holds its own
    reference.
    """

    def __init__(
        self, ttl_sec: float, clock: Callable[[], float] = time.monotonic
    ):
        self.ttl_sec = ttl_sec
        self.clock = clock
        self._value = None
        self._loaded_at: float | None = None
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
    """One load of the published gold and of silver as plain Python
    rows (dicts), which every view reads:

    - ``gold``: every mint of the published gold version, safest
      first, with its four ``*_verdict`` bands — the top-k table, and
      each token's card (``cards``, by mint);
    - ``recent``: the newest :data:`RECENT_ROWS` rows, by (``ts``
      descending, ``signature``, ``mint``);
    - ``txns``: each mint's newest :data:`CARD_TXNS` rows, by (``ts``
      descending, ``signature``).

    Both come from one collect (``Dashboard._newest_rows``), split in
    Python.

    Nothing in it changes after the load, so concurrent readers share
    it without a lock; views hand out copies.
    """

    def __init__(
        self,
        gold: list[dict],
        recent: list[dict],
        txns: dict[str, list[dict]],
    ):
        self.gold = gold
        self.cards = {r["mint"]: r for r in gold}
        self.recent = recent
        self.txns = txns


class Dashboard:
    """The read-side app: silver and its published gold in, display
    pages out.

    Risk scores come from the gold version that ``refresh_gold``
    published for ``silver_path`` (``pipelines.gold.published_gold``);
    the dashboard never scores risk itself. With no gold published for
    this silver, every view raises ``FileNotFoundError``.

    ``working_set_rows`` is the reference's tail-100k memory guard —
    but expressed as ``orderBy(desc(ts), signature, mint).limit(n)`` (a
    TakeOrdered heap-merge), so "most recent" is defined by data, not
    file order. It bounds the newest rows and the card rows; gold lists
    every mint of silver.

    A reload collects every page and card into a :class:`Snapshot`
    before readers can see it, in two Spark jobs: the gold collect and
    one silver collect of the newest rows and the card rows together.
    Views read that snapshot and start no Spark job, and an overview
    page reads one snapshot throughout.
    Every view returns fresh dicts, so a caller may mutate its result.
    """

    def __init__(
        self,
        spark: SparkSession,
        silver_path: str,
        working_set_rows: int = 100_000,
        data_ttl_sec: float = 300.0,
        clock: Callable[[], float] = time.monotonic,
    ):
        self.spark = spark
        self.silver_path = silver_path
        self.working_set_rows = working_set_rows
        self._cache = TTLCache(data_ttl_sec, clock)

    # -- data ----------------------------------------------------------

    def _load(self) -> Snapshot:
        """Two Spark jobs: the gold collect, and one collect of the
        silver rows the snapshot holds (:meth:`_newest_rows`)."""
        gold = self._published_rows()
        recent: list[dict] = []
        txns: dict[str, list[dict]] = {}
        for r in sorted(self._newest_rows().collect(), key=lambda r: r["pos"]):
            if r["pos"] < RECENT_ROWS:
                recent.append({c: r[c] for c in RECENT_COLS})
            if r["rank"] <= CARD_TXNS:
                txns.setdefault(r["mint"], []).append(
                    {c: r[c] for c in TXN_COLS}
                )
        return Snapshot(gold, recent, txns)

    def _newest_rows(self) -> DataFrame:
        """The working set's newest :data:`RECENT_ROWS` rows and each
        mint's newest :data:`CARD_TXNS` rows, as one query. The working
        set is ``working_set_rows`` rows, newest first; ties on ``ts``
        (the transfers of one transaction share it) fall to
        ``signature`` then ``mint``, so every load takes the same rows.
        Each row carries its position in the working set (``pos``, from
        0) and within its mint (``rank``, from 1).

        The limit's output is one partition in that order, so ``pos``
        is its row number, ``monotonically_increasing_id`` on partition
        0, and the mint window sorts that partition in the collect's
        job, with no exchange. A ``row_number`` window for ``pos``
        would have no partition key: the optimizer drops a constant
        one, and Spark then warns on every load that the window moves
        all data to one partition."""
        order = (F.desc("ts"), F.asc("signature"), F.asc("mint"))
        by_mint = Window.partitionBy("mint").orderBy(*order[:2])
        return (
            read_silver(self.spark, self.silver_path)
            .filter(~F.col("mint").isin(EXCLUDED_MINTS))
            .orderBy(*order)
            .limit(self.working_set_rows)
            .withColumn("pos", F.monotonically_increasing_id())
            .select(
                *RECENT_COLS, "pos",
                F.row_number().over(by_mint).alias("rank"),
            )
            .filter(
                (F.col("pos") < RECENT_ROWS) | (F.col("rank") <= CARD_TXNS)
            )
        )

    def _published_rows(self) -> list[dict]:
        """The published gold version's rows with their verdicts,
        safest first. A refresh deletes the version before the one it
        publishes, so a read that fails, or finds the version's
        ``_SUCCESS`` gone after it (``gold_committed``), is taken again
        on the version the pointer names now; with the pointer unmoved,
        it raises."""
        version = published_gold(self.spark, self.silver_path)
        while True:
            try:
                rows = (
                    self.spark.read.schema(RISK_GOLD).parquet(version)
                    .withColumns({
                        "risk_verdict": risk_band(F.col("jeet_risk_score")),
                        "ownership_verdict": risk_band(F.col("ownership_risk")),
                        "liquidity_verdict": risk_band(F.col("liquidity_risk")),
                        "concentration_verdict": risk_band(
                            F.col("txn_concentration")
                        ),
                    })
                    .collect()
                )
                if not gold_committed(self.spark, version):
                    raise FileNotFoundError(f"gold {version} was deleted")
            except Exception:
                moved = published_gold(self.spark, self.silver_path)
                if moved == version:
                    raise
                version = moved
                continue
            # top_k_by_safety's order, without a sort job
            return sorted(
                (r.asDict() for r in rows),
                key=lambda r: (-r["safety_score"], r["mint"]),
            )

    def _snapshot(self) -> Snapshot:
        return self._cache.get(self._load)

    def refresh(self) -> None:
        """Invalidate so the next view re-reads the gold pointer and
        silver; a request still rendering the replaced snapshot keeps it
        until it finishes."""
        self._cache.invalidate()

    # -- views (each reads the snapshot; no Spark job) -----------------

    def recent_transactions(self, n: int = RECENT_ROWS) -> list[dict]:
        """The newest ``n`` rows, ts-descending. A snapshot holds
        :data:`RECENT_ROWS`, so ``n`` outside ``0..RECENT_ROWS`` raises
        ``ValueError``."""
        if not 0 <= n <= RECENT_ROWS:
            raise ValueError(f"n must be in 0..{RECENT_ROWS}, got {n}")
        return [dict(r) for r in self._snapshot().recent[:n]]

    def top_safest(self, k: int = 10) -> list[dict]:
        """The ``k`` safest tokens with their verdicts; every token
        when ``k`` exceeds their number. A negative ``k`` raises
        ``ValueError``."""
        if k < 0:
            raise ValueError(f"k must not be negative, got {k}")
        return [dict(r) for r in self._snapshot().gold[:k]]

    def token_detail(self, mint: str) -> dict:
        """Banded verdict card + the :data:`CARD_TXNS` newest
        transactions for one token (``streamlit 1.3.txt:115-151,
        170-181``); an unknown mint has no card and no rows."""
        snap = self._snapshot()
        card = snap.cards.get(mint)
        return {
            "card": None if card is None else dict(card),
            "transactions": [dict(t) for t in snap.txns.get(mint, ())],
        }

    # -- rendering (one snapshot per page) -----------------------------

    def overview_text(self) -> str:
        """Plain-text overview: top-10 safest + top-25 recent txns."""
        snap = self._snapshot()
        out = ["== Top 10 safest tokens =="]
        for r in snap.gold[:10]:
            out.append(
                f"{r['mint'][:12]:<14} {str(r.get('token_name'))[:16]:<18} "
                f"safety {r['safety_score']:>7.2f}  holders "
                f"{r['unique_holders']:>5}  events {r['total_events']:>6}"
            )
        out.append("")
        out.append("== Recent transactions ==")
        for r in snap.recent[:25]:
            out.append(
                f"{r['ts']} {str(r['type']):<10} {str(r['mint'])[:12]:<14} "
                f"amount {r['token_amount']}"
            )
        return "\n".join(out)

    def overview_html(self, refresh_sec: int = 60) -> str:
        """Minimal HTML page with meta-refresh — the reference's rerun
        slider (``streamlit 1.3.txt:183-185``)."""
        snap = self._snapshot()

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
            + table(snap.gold[:10])
            + "<h2>Recent transactions</h2>"
            + table(snap.recent)
            + "</body></html>"
        )


def serve_http(
    dashboard: Dashboard, port: int = 0, refresh_sec: int = 60
):
    """Serve the overview on localhost via stdlib http.server; returns
    the (started) server — caller owns shutdown. The page meta-refreshes
    every ``refresh_sec``; data re-reads the published gold and silver
    on the TTL cadence. A view that raises (no gold published for the
    silver, say) answers 500."""
    import http.server

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_GET(self):
            # only the overview page exists; answering e.g.
            # /favicon.ico with the full page would render it once
            # more per browser refresh for output the client discards
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
