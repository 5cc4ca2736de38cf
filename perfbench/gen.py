"""Seeded input generator with ground truth.

Everything the benchmark feeds the program comes from here, and the same
seed always yields the same bytes. Two input families:

* ``landing``: raw documents in the reference's one-message-per-file
  layout (metadata-wrapped Helius documents, bare-array Helius documents
  and websocket messages) plus a fixed share of redelivered copies, with
  the exact silver ground truth: the distinct ``(mint, signature)`` keys,
  the redelivered row count and per-mint holder and buyer sets.
* ``analytics``: the ten fixture tables the query registry reads
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``),
  written as parquet.

Mint popularity is Zipf-skewed. Every transaction's transfers name
distinct mints and signatures never repeat, so redeliveries are the only
duplicate keys.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
from dataclasses import dataclass, field

import numpy as np

#: Quote mints (wSOL, USDT, USDC) that the gold tables exclude.
QUOTE_MINTS = (
    "So11111111111111111111111111111111111111112",
    "Es9vMFrzaCERmJfrF4H2FYD4KCoNkY11McCe8BenwNYB",
    "EPjFWdd5AufqSSqeM2qN1xzybapC8G4wEGGkZwyTDt1v",
)
_B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_TX_TYPES = ("SWAP", "SWAP", "SWAP", "TRANSFER", "TRANSFER", "BURN")
_SOURCES = ("RAYDIUM", "JUPITER", "ORCA", "PUMP_FUN")
#: Epoch second where landing timestamps start (2024-03-01 00:00 UTC).
BASE_EPOCH = 1_709_251_200
#: Transactions per Helius document: the reference fetches each mint's
#: history with ``limit=100`` (``helius.py:57``).
TX_PER_DOC = 100
#: Share of messages landed twice (an assumption; the reference keeps a
#: processed-signature ledger because redelivery happens, but publishes
#: no rate). The rest of the mix below is an assumption too: the
#: reference publishes no token-popularity, account or quote-mint figures.
REDELIVERY_SHARE = 0.10
N_MINTS = 300
N_ACCOUNTS = 3000
#: Zipf exponent of mint popularity (weight of rank r is 1 / r**ZIPF_S).
ZIPF_S = 1.1
#: Chance that a transfer or websocket message names a quote mint.
QUOTE_SHARE = 0.05


def address(rng: random.Random) -> str:
    """A random 44-character base58 string (mint or account address)."""
    return "".join(rng.choices(_B58, k=44))


def _sig(seed: int, family: str, i: int) -> str:
    return hashlib.sha256(f"{seed}:{family}:{i}".encode()).hexdigest()


@dataclass
class Universe:
    """Mints (Zipf-weighted), their names and the account pool."""

    mints: list[str]
    names: dict[str, tuple[str, str]]
    cum_weights: list[float]
    accounts: list[str]

    @classmethod
    def make(cls, rng: random.Random, n_accounts: int) -> "Universe":
        mints = [address(rng) for _ in range(N_MINTS)]
        names = {
            m: (f"Token {i:04d}", f"T{i:04d}") for i, m in enumerate(mints)
        }
        cum = list(itertools.accumulate(
            1.0 / (rank + 1) ** ZIPF_S for rank in range(N_MINTS)))
        accounts = [address(rng) for _ in range(n_accounts)]
        return cls(mints, names, cum, accounts)

    def pick_mints(self, rng: random.Random, k: int,
                   exclude: str | None = None) -> list[str]:
        """``k`` distinct mints other than ``exclude``, Zipf-weighted,
        with an occasional quote mint mixed in (the gold tables must
        filter those out)."""
        out: list[str] = []
        while len(out) < k:
            if rng.random() < QUOTE_SHARE:
                m = rng.choice(QUOTE_MINTS)
            else:
                m = rng.choices(self.mints, cum_weights=self.cum_weights)[0]
            if m not in out and m != exclude:
                out.append(m)
        return out


@dataclass
class Truth:
    """Exact silver rows implied by a generated feed: one
    ``(mint, signature, type, from, to, epoch_or_None)`` per row."""

    rows: list = field(default_factory=list)

    def add(self, mint, sig, typ, frm, to, ts) -> None:
        self.rows.append((mint, sig, typ, frm, to, ts))

    def keys(self) -> set:
        keys = {(r[0], r[1]) for r in self.rows}
        if len(keys) != len(self.rows):
            raise ValueError("generator produced a duplicate silver key")
        return keys

    def holders(self) -> dict:
        """mint -> distinct ``to`` accounts, quote mints excluded."""
        out: dict = {}
        for mint, _, _, _, to, _ in self._gold_rows():
            out.setdefault(mint, set()).add(to)
        return out

    def buyers(self) -> dict:
        """mint -> distinct ``from`` accounts of SWAP rows."""
        out: dict = {}
        for mint, _, typ, frm, _, _ in self._gold_rows():
            s = out.setdefault(mint, set())
            if typ == "SWAP":
                s.add(frm)
        return out

    def events(self) -> dict:
        """mint -> row count, quote mints excluded."""
        out: dict = {}
        for r in self._gold_rows():
            out[r[0]] = out.get(r[0], 0) + 1
        return out

    def _gold_rows(self):
        return (r for r in self.rows if r[0] not in QUOTE_MINTS)


class FeedBuilder:
    """Builds Helius documents and websocket messages, recording the
    silver rows each one normalizes to."""

    def __init__(self, seed: int, family: str, universe: Universe):
        self.seed = seed
        self.family = family
        self.u = universe
        self.rng = random.Random(f"{seed}:{family}")
        self.truth = Truth()
        self._n_tx = 0
        self._n_ws = 0
        self._n_planned = 0

    def doc_mints(self, n: int) -> list[str]:
        """``n`` distinct, Zipf-weighted, non-quote mints: the reference
        fetches one history document per mint (``helius.py:51-53``
        skips a mint it has already fetched)."""
        out: list[str] = []
        while len(out) < n:
            m = self.rng.choices(self.u.mints, cum_weights=self.u.cum_weights)[0]
            if m not in out:
                out.append(m)
        return out

    def plan(self, doc_mint: str, n_tx: int) -> list[list[str]]:
        """The distinct mints of each transaction's transfers: the
        document mint, then one other mint, or two for every fourth
        transaction the builder plans (so a feed's row count depends only
        on its transaction count)."""
        plan = []
        for _ in range(n_tx):
            k = 2 if self._n_planned % 4 == 3 else 1
            self._n_planned += 1
            plan.append([doc_mint]
                        + self.u.pick_mints(self.rng, k, exclude=doc_mint))
        return plan

    def transaction(self, ts: int, mints: list[str]) -> dict:
        rng, u = self.rng, self.u
        sig = _sig(self.seed, self.family + ":tx", self._n_tx)
        self._n_tx += 1
        typ = rng.choice(_TX_TYPES)
        payer = rng.choice(u.accounts)
        transfers = []
        for m in mints:
            frm, to = rng.choice(u.accounts), rng.choice(u.accounts)
            transfers.append({
                "fromUserAccount": frm,
                "toUserAccount": to,
                "tokenAmount": round(rng.lognormvariate(6, 2), 6),
                "mint": m,
                "tokenStandard": "Fungible",
            })
            self.truth.add(m, sig, typ, frm, to, ts)
        return {
            "description": f"{payer[:6]} {typ.lower()}",
            "type": typ,
            "source": rng.choice(_SOURCES),
            "signature": sig,
            "slot": 250_000_000 + ts - BASE_EPOCH,
            "timestamp": ts,
            "fee": 5000,
            "feePayer": payer,
            "meta": {"fee": 5000},
            "transaction": {"message": {"accountKeys": [payer]}},
            "tokenTransfers": transfers,
        }

    def helius_doc(self, lo: int, hi: int, doc_mint: str,
                   plan: list[list[str]], wrapped: bool) -> str:
        """One raw Helius document, transaction times drawn from [lo, hi)."""
        txs = [self.transaction(self.rng.randrange(lo, hi), mints)
               for mints in plan]
        if wrapped:
            name, symbol = self.u.names.get(doc_mint, ("Wrapped SOL", "SOL"))
            doc = {
                "metadata": {"token_name": name, "token_symbol": symbol,
                             "mint": doc_mint},
                "transactions": txs,
            }
        else:
            doc = txs
        return json.dumps(doc, separators=(",", ":"))

    def ws_message(self) -> str:
        rng, u = self.rng, self.u
        mint = u.pick_mints(rng, 1)[0]
        name, symbol = u.names.get(mint, ("Wrapped SOL", "SOL"))
        msg = {
            "signature": _sig(self.seed, self.family + ":ws", self._n_ws),
            "mint": mint,
            "txType": rng.choice(("buy", "sell", "create")),
            "solAmount": round(rng.lognormvariate(0, 1.5), 9),
            "name": name,
            "symbol": symbol,
            "traderPublicKey": rng.choice(u.accounts),
        }
        self._n_ws += 1
        raw = json.dumps(msg, separators=(",", ":"))
        # websocket rows are keyed by a content hash of the raw message
        sig = "ws:" + hashlib.sha256(raw.encode()).hexdigest()
        self.truth.add(mint, sig, msg["txType"], "", "", None)
        return raw


@dataclass
class Landing:
    """A landing backlog: ``files`` holds (relative path, JSON doc)."""

    files: list[tuple[str, str]]
    truth: Truth
    messages: int
    redelivered_messages: int
    redelivered_rows: int


def landing(seed: int, n_helius: int, n_ws: int,
            tx_per_doc: int = TX_PER_DOC) -> Landing:
    """Raw landing backlog of ``n_helius`` Helius documents (alternately
    metadata-wrapped and bare arrays, ``tx_per_doc`` transactions each,
    one document per mint) and ``n_ws`` websocket messages, with
    ``REDELIVERY_SHARE`` of each feed's messages landed a second time
    under a new file name later in the same feed."""
    rng = random.Random(f"{seed}:landing")
    fb = FeedBuilder(seed, "landing", Universe.make(rng, N_ACCOUNTS))
    helius = []
    for i, doc_mint in enumerate(fb.doc_mints(n_helius)):
        n_before = len(fb.truth.rows)
        plan = fb.plan(doc_mint, tx_per_doc)
        doc = fb.helius_doc(BASE_EPOCH, BASE_EPOCH + 6 * 3600, doc_mint, plan,
                            wrapped=i % 2 == 0)
        helius.append((doc, len(fb.truth.rows) - n_before))
    ws = [(fb.ws_message(), 1) for _ in range(n_ws)]
    feeds = {"helius": helius, "ws": ws}
    n_redeliver = redelivered_rows = 0
    for kind, originals in list(feeds.items()):
        feed = list(originals)
        picks = rng.sample(range(len(originals)),
                           round(REDELIVERY_SHARE * len(originals)))
        for idx in sorted(picks, reverse=True):
            doc, rows = originals[idx]
            # the copy lands somewhere after the original
            feed.insert(rng.randint(idx + 1, len(feed)), (doc, rows))
            redelivered_rows += rows
        n_redeliver += len(picks)
        feeds[kind] = feed
    files = [
        (f"{kind}/{i:06d}.json", doc)
        for kind in ("helius", "ws")
        for i, (doc, _) in enumerate(feeds[kind])
    ]
    return Landing(files, fb.truth, n_helius + n_ws, n_redeliver,
                   redelivered_rows)


def write_landing(files: list[tuple[str, str]], root: str) -> None:
    for rel, doc in files:
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(doc + "\n")


# ---------------------------------------------------------------------------
# analytics fixture tables
# ---------------------------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_COLORS = ("red", "blue", "green", "small", "large", "black", "white")
_NOUNS = ("ring", "widget", "bolt", "gear", "spring", "valve", "panel")


def analytics_tables(seed: int, scale: float) -> dict:
    """The ten fixture tables as pyarrow tables, with the schema of the
    repository's sf0.01 fixture tables (TESTDATA.md). ``scale`` 1.0 gives
    their row counts (60k lineitem rows, 10k events, 500 documents, 500
    embeddings), and the distributions follow what that fixture measures:
    uniform keys and categories, ``events.user_id`` uniform over 150
    users, ``events.value`` exponential with mean 50, documents of 10-99
    words from a 31-word vocabulary of which about 5% copy an earlier
    one, embeddings in 10 labelled clusters of 64 dimensions."""
    import pyarrow as pa

    rs = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_li = int(15000 * scale), int(60000 * scale)
    n_ev, n_doc, n_emb = int(10000 * scale), int(500 * scale), int(500 * scale)
    day = np.timedelta64(1, "D")
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rs.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rs.choice(
            ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"],
            n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rs.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rs.uniform(-999, 9999, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{c} {n}" for c, n in zip(
            rs.choice(_COLORS, n_part), rs.choice(_NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rs.integers(1, 26, n_part)],
        "p_type": rs.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "LARGE"],
                            n_part),
        "p_size": pa.array(rs.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    odate = np.datetime64("1995-01-01") + rs.integers(0, 2400, n_ord) * day
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rs.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rs.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rs.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": rs.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord),
    })
    okey = np.sort(rs.integers(0, n_ord, n_li))
    linenum = np.ones(n_li, dtype=np.int32)
    for i in range(1, n_li):
        if okey[i] == okey[i - 1]:
            linenum[i] = linenum[i - 1] + 1
    qty = rs.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rs.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rs.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rs.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rs.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rs.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rs.choice(["A", "N", "R"], n_li),
        "l_linestatus": rs.choice(["F", "O"], n_li),
        "l_shipdate": pa.array((odate[okey] + rs.integers(1, 122, n_li) * day)
                               .astype("datetime64[us]")),
    })
    ev_secs = np.sort(rs.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01") +
                       ev_secs.astype("timedelta64[us]")),
        "user_id": pa.array(rs.integers(0, 150, n_ev), pa.int64()),
        "event_type": rs.choice(
            ["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.maximum(np.round(rs.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rs.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        r = rs.random()
        if i > 10 and r < 0.05:
            # copy of an earlier document, as in the fixture: most
            # copies get their last word changed (near duplicates), the
            # rest stay exact
            words = texts[int(rs.integers(0, i))].split()
            if r < 0.04:
                words[-1] = _WORDS[int(rs.integers(0, len(_WORDS)))]
        else:
            words = list(rs.choice(_WORDS, int(rs.integers(10, 100))))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rs.choice(["en", "de", "es", "fr", "zh"], n_doc,
                          p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{s}" for s in rs.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    centers = rs.normal(0, 1, (10, 64))
    label = rs.integers(0, 10, n_emb)
    emb = (centers[label] + rs.normal(0, 0.5, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return t


def write_analytics(seed: int, scale: float, root: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    for name, table in analytics_tables(seed, scale).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
