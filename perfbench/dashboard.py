"""Dashboard reads, the read half of the ``ingest`` workload.

Set-up opens ``Dashboard`` over the silver table its warm-up drain wrote
and serves it with ``serve_http``. ``CLIENTS`` closed-loop client threads
(each sends its next request when the previous one returns) then take
turns on one request schedule, modelled on the reference's page
(``streamlit 1.3.txt``, figures in SURVEY.md): every page view renders
the top 10 tokens, the 100 newest rows and the card of the token the user
selected, and every fifth page view finds the 300 s data cache expired
(the page reruns every 60 s) and reloads the snapshot first. The clients
serve the schedule in whole periods of two reloads and the page views
before them, so every period is the same mix of requests.

Every answer is checked against the generator's ground truth. The
silver table is smaller than the dashboard's 100k-row working set, so
the working set is every non-quote row, and each mint's holders, buyers
and event count, and from them its scores, are known exactly.
"""

from __future__ import annotations

import itertools
import random
import threading
import time
import urllib.request
from contextlib import contextmanager

import gen
from stats import tree_cpu_s

from solana_etl_pipeline_spark.serving import Dashboard, serve_http

CLIENTS = 2
#: Page views per snapshot reload: the reference caches data for 300 s
#: and reruns the page every 60 s (``streamlit 1.3.txt:41,183-185``).
PAGES_PER_RELOAD = 5
#: A page rendered by the library views; every other page is the same
#: top 10 and newest 100 rows rendered by ``serve_http`` (``GET /``),
#: plus the selected token's card. (The split is an assumption: the
#: reference has only its Streamlit page.)
LIBRARY_PAGE = ("top_safest", "recent_transactions", "token_detail")
HTTP_PAGE = ("http_overview", "token_detail")
VIEWS = ("top_safest", "recent_transactions", "token_detail",
         "http_overview")
#: Every UNKNOWN_EVERY-th token lookup asks for a mint that does not
#: exist (an assumption; the reference's select box lists only known
#: tokens, a client of the library can name any mint).
UNKNOWN_EVERY = 10
TOL = 2e-6


def expected_scores(truth: gen.Truth) -> dict[str, dict]:
    """Per-mint metrics of the silver rows, by the reference's formulas
    (``operators.risk``): ownership and liquidity risk 100/(1+n) (100
    when n is 0), concentration events/(1+holders), jeet risk
    0.4/0.4/0.2-weighted, safety max(0, 100 - jeet)."""
    holders, buyers, events = truth.holders(), truth.buyers(), truth.events()
    out = {}
    for mint, hs in holders.items():
        h, b, n = len(hs), len(buyers[mint]), events[mint]
        own = 100.0 / (1 + h) if h else 100.0
        liq = 100.0 / (1 + b) if b else 100.0
        jeet = 0.4 * own + 0.4 * liq + 0.2 * n / (1 + h)
        out[mint] = {"unique_holders": h, "unique_buyers": b,
                     "total_events": n, "jeet_risk_score": jeet,
                     "safety_score": max(0.0, 100.0 - jeet)}
    return out


class Checker:
    def __init__(self, truth: gen.Truth):
        self.scores = expected_scores(truth)
        ranked = sorted(self.scores,
                        key=lambda m: (-round(self.scores[m]["safety_score"], 6), m))
        self.top10 = ranked[:10]

    def top_safest(self, rows: list[dict]) -> bool:
        if [r["mint"] for r in rows] != self.top10:
            return False
        return all(self._card(r) for r in rows)

    def _card(self, row: dict) -> bool:
        want = self.scores.get(row["mint"])
        if want is None:
            return False
        for k in ("unique_holders", "unique_buyers", "total_events"):
            if k in row and row[k] != want[k]:
                return False
        return all(abs(row[k] - want[k]) <= TOL
                   for k in ("safety_score", "jeet_risk_score"))

    def token_detail(self, mint: str, out: dict) -> bool:
        want = self.scores.get(mint)
        if want is None:
            return out["card"] is None and out["transactions"] == []
        n_txns = min(20, want["total_events"])
        return (out["card"] is not None and self._card(out["card"])
                and len(out["transactions"]) == n_txns)

    @staticmethod
    def recent(rows: list[dict]) -> bool:
        ts = [r["ts"] for r in rows]
        return len(rows) == 100 and ts == sorted(ts, reverse=True)

    @staticmethod
    def http(status: int, body: str) -> bool:
        return status == 200 and "Top 10 safest tokens" in body


def schedule(seed: int, mints: list[str], blocks: int = 100) -> list:
    """(view, mint) requests: ``blocks`` of PAGES_PER_RELOAD page views,
    library and HTTP pages alternating, each block followed by a reload.
    The selected token is Zipf-weighted by rank in ``mints`` (popular
    tokens are looked at more; the weights are an assumption), or an
    unknown mint."""
    rng = random.Random(f"{seed}:schedule")
    cum = list(itertools.accumulate(1.0 / (r + 1) for r in range(len(mints))))
    unknown = [gen.address(rng) for _ in range(20)]
    out, lookups = [], 0
    for page in range(blocks * PAGES_PER_RELOAD):
        for view in LIBRARY_PAGE if page % 2 == 0 else HTTP_PAGE:
            mint = None
            if view == "token_detail":
                lookups += 1
                mint = (rng.choice(unknown) if lookups % UNKNOWN_EVERY == 0
                        else rng.choices(mints, cum_weights=cum)[0])
            out.append((view, mint))
        if page % PAGES_PER_RELOAD == PAGES_PER_RELOAD - 1:
            out.append(("reload", None))
    return out


class Clients:
    """Closed-loop clients taking turns on one request schedule."""

    def __init__(self, ctx, dash: Dashboard, port: int, checker: Checker,
                 requests: list):
        self.ctx, self.dash, self.port = ctx, dash, port
        self.check, self.requests = checker, requests
        self.lock = threading.Lock()
        self.n = 0
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self._reset_timing()

    def _reset_timing(self) -> None:
        self.views: dict[str, list[float]] = {v: [] for v in VIEWS}
        self.reloads: list[float] = []
        self.reload_attrs: list[dict] = []
        self.view_jobs: list[int] = []
        self.served = 0
        self.wall = self.cpu_s = 0.0

    def warm(self) -> None:
        """Load the first snapshot and send one request of each view;
        outcomes count, timings are dropped."""
        mint = next(m for v, m in self.requests if m in self.check.scores)
        self.one("reload", None, -1)
        for i, view in enumerate(VIEWS):
            self.one(view, mint, -2 - i)
        self._reset_timing()

    def run_period(self) -> None:
        """Serve the schedule's next period: the requests up to and
        including its second reload from here (the five-page blocks
        alternate between three and two library pages, so every two
        blocks the mix repeats)."""
        reloads = [i for i, (v, _) in enumerate(self.requests)
                   if v == "reload" and i >= self.n]
        self._limit = reloads[1] + 1
        threads = [threading.Thread(target=self._client)
                   for _ in range(CLIENTS)]
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.wall += time.perf_counter() - t0
        self.cpu_s += tree_cpu_s() - cpu0

    def _client(self) -> None:
        while True:
            with self.lock:
                if self.n >= self._limit:
                    return
                i = self.n
                self.n += 1
            self.one(*self.requests[i], i)

    def one(self, view: str, mint: str | None, i: int) -> None:
        """Issue request ``i`` and record its outcome and latency."""
        try:
            ok, sp = self._request(view, mint, i)
        except Exception as exc:  # a failed request counts, run on
            ok, sp = False, None
            self.errors.append(f"req{i} {view}: {exc!r}")
        with self.lock:
            self.attempted += 1
            self.failed += not ok
            self.served += 1
            if sp is None:
                return
            dt = sp.end - sp.start
            if view == "reload":
                self.reloads.append(dt)
                self.reload_attrs.append(sp.attrs)
            else:
                self.views[view].append(dt)
                if view != "http_overview":
                    self.view_jobs.append(sp.attrs.get("jobs", 0))
            if not ok:
                self.errors.append(f"req{i} {view}: wrong answer")

    def _request(self, view: str, mint: str | None, i: int):
        tr, dash, check = self.ctx.tracer, self.dash, self.check
        with tr.span("serving", view, f"req{i}") as sp:
            if view == "reload":
                dash.refresh()
                ok = check.top_safest(dash.top_safest())
            elif view == "top_safest":
                ok = check.top_safest(dash.top_safest())
            elif view == "recent_transactions":
                ok = check.recent(dash.recent_transactions())
            elif view == "token_detail":
                ok = check.token_detail(mint, dash.token_detail(mint))
            else:
                url = f"http://127.0.0.1:{self.port}/"
                with urllib.request.urlopen(url, timeout=60) as resp:
                    ok = check.http(resp.status, resp.read().decode())
        return ok, sp


@contextmanager
def serving(ctx, silver: str, truth: gen.Truth):
    """Open a dashboard over ``silver``, serve it over HTTP and yield its
    ``Clients``; the server stops and the snapshots are released on
    exit."""
    checker = Checker(truth)
    dash = Dashboard(ctx.spark, silver)
    server = serve_http(dash)
    try:
        by_events = sorted(checker.scores,
                           key=lambda m: -checker.scores[m]["total_events"])
        yield Clients(ctx, dash, server.server_address[1], checker,
                      schedule(ctx.seed, by_events))
    finally:
        server.shutdown()
        server.server_close()
        ctx.spark.catalog.clearCache()
