"""Round-5 hardening contracts: scale-aware gold writes, the
parquet table sink, the brute-force query-side guard, scoped
dedup caches, and compaction over the incremental signature store."""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.oracle_utils import assert_matches_oracle
from solana_etl_pipeline_spark.llm.dedup import (
    dedup_cache_scope,
    embedding_near_dup_pairs,
    minhash_near_dup_pairs,
    ngram_jaccard_for_pairs,
    simhash_candidate_pairs,
)
from solana_etl_pipeline_spark.llm.incremental import (
    incremental_near_dup_batch,
)
from solana_etl_pipeline_spark.llm.similarity import cosine_topk
from solana_etl_pipeline_spark.pipelines.gold import write_gold
from solana_etl_pipeline_spark.sources.sinks import (
    compact_parquet_dir,
    write_parquet,
)


# ---------------------------------------------------------------- gold


def _fake_gold(spark, n: int):
    return spark.range(n).select(
        F.concat(F.lit("mint"), F.col("id")).alias("mint"),
        (F.col("id") % 97).cast("double").alias("risk_score"),
    )


def test_write_gold_sizes_files_from_rows(spark, tmp_path):
    """The mint dimension grows with the corpus: the gold writer must
    fan out once the table outgrows AQE's advisory partition size
    instead of funnelling through a single coalesced task."""
    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(advisory)
    spark.conf.set(advisory, "1k")
    try:
        path = tmp_path / "gold_multi"
        write_gold(_fake_gold(spark, 5000), str(path))
    finally:
        spark.conf.set(advisory, old)
    assert len(list(path.glob("*.parquet"))) > 1
    got = spark.read.parquet(str(path))
    assert got.count() == 5000
    assert got.select(F.countDistinct("mint")).collect()[0][0] == 5000


def test_write_gold_small_table_single_file(spark, tmp_path):
    """Below the target the dashboard still gets one tidy file."""
    path = tmp_path / "gold_single"
    write_gold(_fake_gold(spark, 50), str(path))
    assert len(list(path.glob("*.parquet"))) == 1
    assert spark.read.parquet(str(path)).count() == 50


# ----------------------------------------------------------- parquet sink


def test_sink_format_seam_parquet_roundtrip(spark, tmp_path):
    path = str(tmp_path / "seam")
    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 2).alias("p")
    )
    write_parquet(df, path, partition_cols=["p"], mode="overwrite")
    got = spark.read.parquet(path)
    assert got.count() == 10
    assert {r.p for r in got.select("p").distinct().collect()} == {0, 1}


# -------------------------------------------- witness-staleness gate


def test_correctness_witnesses_not_stale():
    """Prefix-rotation invariant (README 'Prefix rotation'): every
    driver-witnessed query's most recent green CORRECTNESS row is at
    most ``invariant_bound()`` rounds old — ceil(N_queries / 50), the
    tightest bound a 50-row-per-round rotation can arithmetically
    satisfy (plus its built-in backlog-slack round; see
    tools/staleness.py). A missed rotation trips this test one round
    later instead of silently aging the evidence."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    try:
        from tools.staleness import (
            invariant_bound,
            load_witness_rounds,
            registry_names,
        )
    finally:
        sys.path.pop(0)

    latest, last_green = load_witness_rounds()
    if latest == 0:  # pragma: no cover - fresh checkout without rows
        pytest.skip("no CORRECTNESS files on disk")
    names = registry_names()
    bound = invariant_bound(len(names))
    over = {
        n: latest - last_green[n]
        for n in names
        if n in last_green and latest - last_green[n] > bound
    }
    assert not over, (
        f"correctness witnesses older than the invariant bound "
        f"(staleness <= {bound} = ceil({len(names)}/50); regenerate "
        f"_PRIORITY with `python tools/staleness.py`): {over}"
    )


# ------------------------------------------------ tools/ citations

# ``tools/<name>.py`` paths, ``tools.<name>`` imports and
# ``tools/logs/<file>`` paths. A citation in git-object form
# (``<sha>:tools/<name>.py``) names a deleted file's last version and is
# exempt, hence the ``:`` in the lookbehinds.
_TOOLS_CITATION = re.compile(
    r"(?<![\w:.-])tools/(\w+)\.py|\b(?:from|import) tools\.(\w+)"
)
_LOGS_CITATION = re.compile(r"(?<![\w:.-])tools/logs/([\w.-]*\w)")


def test_no_dangling_tools_citations():
    """Every script or log under ``tools/`` that the package, the tests,
    the other tools, the README or the verify skill cite must exist, so
    deleting one cannot leave a citation behind."""
    root = Path(__file__).resolve().parent.parent
    files = [root / "README.md"]
    for top in ("solana_etl_pipeline_spark", "tests", "tools",
                ".claude/skills"):
        files += sorted(
            p for p in (root / top).rglob("*") if p.suffix in (".py", ".md")
        )
    dangling = []
    for path in files:
        text = path.read_text(encoding="utf-8")
        for lineno, line in enumerate(text.splitlines(), 1):
            for m in _TOOLS_CITATION.finditer(line):
                name = m.group(1) or m.group(2)
                if not (root / "tools" / f"{name}.py").is_file():
                    rel = path.relative_to(root)
                    dangling.append(f"{rel}:{lineno}: tools/{name}.py")
            for m in _LOGS_CITATION.finditer(line):
                if not (root / "tools" / "logs" / m.group(1)).is_file():
                    rel = path.relative_to(root)
                    dangling.append(f"{rel}:{lineno}: tools/logs/{m.group(1)}")
    assert not dangling, "citations of missing tools/ files:\n" + "\n".join(
        dangling
    )


# ------------------------------------------------- package caller guard


#: Public names kept without a caller, each with its reason.
_CALLER_ALLOWLIST = {
    "build_silver": "batch write chain, ROADMAP item 2",
    "write_silver": "batch write chain, ROADMAP item 2",
    "compact_parquet_dir": "SURVEY §2.11 surface",
    "stateful_running_totals": "SURVEY §2.11 surface",
    "http_json_fetcher": "reference extract parity (helius.py)",
    "fetch_batch_to_dataframe": "reference extract parity (helius.py)",
    "run_live_ingest": "reference extract parity (my_websocket.py)",
    "read_state_metadata": "ledger parity (my_websocket.py:101-105)",
    "dedup_state_keys": "ledger parity (my_websocket.py:101-105)",
    "minhash_near_dup_pairs": "composed-form reference of the "
                              "minhash_verified_pairs parity tests",
    "dedup_cache_scope": "release API of the dedup caching contract",
    "capture_pre_checkpoint_plans": "reads the operators' "
                                    "record_pre_checkpoint feed for "
                                    "test_no_cartesian_products_anywhere",
}


_ROOT = Path(__file__).resolve().parent.parent


def _caller_files() -> list[Path]:
    """The package, ``__spark_entry__.py`` and ``perfbench/``: the code
    whose calls count. Tests and ``tools/`` do not."""
    return [_ROOT / "__spark_entry__.py"] + [
        p
        for top in (_ROOT / "solana_etl_pipeline_spark", _ROOT / "perfbench")
        for p in sorted(top.rglob("*.py"))
        if "tests" not in p.relative_to(_ROOT).parts
    ]


def _references(tree) -> list[tuple[str | None, str]]:
    """``(owner, name)`` for every name or attribute a module uses;
    ``owner`` is the top-level def or class whose body holds it, else
    None. Import aliases and ``__all__`` strings are not references."""
    def names(node):
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                yield sub.id
            elif isinstance(sub, ast.Attribute):
                yield sub.attr

    out = []
    for node in tree.body:
        owner = (
            node.name
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef))
            else None
        )
        out += [(owner, n) for n in names(node)]
    return out


def test_package_public_names_have_a_caller():
    """Every public top-level function or class of the package is
    referenced, outside its own body, from the package,
    ``__spark_entry__.py`` or ``perfbench/``; a name only tests (or
    scripts under ``tools/``) reach is deleted, or named in the
    allowlist with its reason."""
    root, pkg = _ROOT, _ROOT / "solana_etl_pipeline_spark"
    sites = defaultdict(set)  # name -> {(file, owner)} that load it
    for path in _caller_files():
        for owner, name in _references(ast.parse(path.read_text("utf-8"))):
            sites[name].add((path, owner))
    uncalled, defined = [], set()
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.parse(path.read_text("utf-8")).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            defined.add(node.name)
            if node.name in _CALLER_ALLOWLIST:
                continue
            if not sites[node.name] - {(path, node.name)}:
                uncalled.append(f"{path.relative_to(root)}::{node.name}")
    assert not uncalled, "public package names no caller reaches:\n" + (
        "\n".join(uncalled)
    )
    stale = sorted(set(_CALLER_ALLOWLIST) - defined)
    assert not stale, f"allowlisted names the package no longer defines: {stale}"
    assert all(_CALLER_ALLOWLIST.values()), "an allowlist entry has no reason"


#: ``function.parameter`` bool options kept although every caller passes
#: one value, each with its reason.
_BOOL_OPTION_ALLOWLIST = {
    "unigram_score.include_raw": "rounding-boundary canary (COVERAGE "
                                 "convention 8)",
    "importance_weights.include_raw": "rounding-boundary canary (COVERAGE "
                                      "convention 8)",
    "tfidf_top_terms.include_raw": "rounding-boundary canary (COVERAGE "
                                   "convention 8)",
    "bm25_topk.include_raw": "rounding-boundary canary (COVERAGE "
                             "convention 8)",
    "pagerank.dedup_edges": "input contract for graphs with parallel edges",
}


def _bool_defaults(fn) -> dict[str, bool]:
    args = fn.args
    pos = args.posonlyargs + args.args
    pairs = list(zip(pos[len(pos) - len(args.defaults):], args.defaults))
    pairs += [(a, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d]
    return {
        a.arg: d.value
        for a, d in pairs
        if isinstance(d, ast.Constant) and isinstance(d.value, bool)
    }


def test_package_bool_options_take_two_values():
    """A ``bool``-defaulted parameter of a public top-level package
    function selects a second code path, so some call site in the
    package, ``__spark_entry__.py`` or ``perfbench/`` must select it:
    the calls must pass at least two values. An omitted argument
    counts as the default; a non-literal one, or a ``*args`` /
    ``**kwargs`` spread, as varying. Functions in
    ``_CALLER_ALLOWLIST`` are skipped; an option kept anyway is named
    in ``_BOOL_OPTION_ALLOWLIST`` with its reason."""
    varying = object()
    calls = defaultdict(list)  # callee name -> [ast.Call]
    for path in _caller_files():
        for node in ast.walk(ast.parse(path.read_text("utf-8"))):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                calls[name].append(node)

    def passed(call, params: list[str], name: str, default):
        if any(isinstance(a, ast.Starred) for a in call.args) or any(
            kw.arg is None for kw in call.keywords
        ):
            return varying
        node = next((kw.value for kw in call.keywords if kw.arg == name), None)
        if name in params and params.index(name) < len(call.args):
            node = call.args[params.index(name)]
        if node is None:
            return default
        return node.value if isinstance(node, ast.Constant) else varying

    one_valued, options = [], set()
    pkg = _ROOT / "solana_etl_pipeline_spark"
    for path in sorted(pkg.rglob("*.py")):
        for fn in ast.parse(path.read_text("utf-8")).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or (
                fn.name.startswith("_") or fn.name in _CALLER_ALLOWLIST
            ):
                continue
            params = [a.arg for a in fn.args.posonlyargs + fn.args.args]
            for name, default in _bool_defaults(fn).items():
                option = f"{fn.name}.{name}"
                options.add(option)
                values = {
                    passed(call, params, name, default)
                    for call in calls[fn.name]
                }
                if (
                    varying not in values and len(values) < 2
                    and option not in _BOOL_OPTION_ALLOWLIST
                ):
                    one_valued.append(option)
    assert not one_valued, (
        "bool options every caller passes one value (fold the unused "
        f"path): {sorted(one_valued)}"
    )
    stale = sorted(set(_BOOL_OPTION_ALLOWLIST) - options)
    assert not stale, f"allowlisted options the package no longer has: {stale}"
    assert all(_BOOL_OPTION_ALLOWLIST.values()), "an entry has no reason"


# ------------------------------------------------- brute-force guard


def _embeddings(spark, n: int, dim: int = 8):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (i + 3)) % 11 + 1).cast("double")
              for i in range(dim)]
        ).alias("embedding"),
    )


def test_cosine_topk_guards_large_query_side(spark):
    emb = _embeddings(spark, 30)
    with pytest.raises(ValueError, match="lsh_cosine_topk"):
        cosine_topk(emb, emb, k=2, max_queries=10)


def test_cosine_topk_small_or_opted_out_query_side_runs(spark):
    emb = _embeddings(spark, 30)
    assert cosine_topk(emb, emb.limit(3), k=2).count() == 6
    # explicit opt-out: caller takes responsibility for sizing
    assert (
        cosine_topk(emb.limit(12), emb.limit(12), k=1,
                    max_queries=None).count() == 12
    )


# --------------------------------------------------- dedup cache scope


def _cached_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def _docs(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog near the old wall",
        "the quick brown fox jumps over the sleepy dog near the old wall",
        "columnar engines shuffle partitions with vectorized operators",
        "completely different text about rivers mountains and valleys",
    ]
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


@pytest.mark.parametrize("api", ["minhash", "jaccard", "simhash", "embedding"])
def test_dedup_cache_scope_releases_persists(spark, api):
    """Every pair generator pins intermediates; consuming inside
    dedup_cache_scope must leave zero NEW cached RDDs behind (delta
    check: the shared session may legitimately hold other caches)."""
    docs = _docs(spark)
    before = _cached_rdd_ids(spark)
    with dedup_cache_scope():
        if api == "minhash":
            out = minhash_near_dup_pairs(docs, "doc_id", "text")
        elif api == "jaccard":
            pairs = spark.createDataFrame([Row(id_a=0, id_b=1)])
            out = ngram_jaccard_for_pairs(docs, pairs, "doc_id", "text")
        elif api == "simhash":
            out = simhash_candidate_pairs(docs, "doc_id", "text")
        else:
            out = embedding_near_dup_pairs(_embeddings(spark, 20))
        out.count()  # action inside the scope: caches are live here
        assert _cached_rdd_ids(spark) - before  # something WAS pinned
    assert _cached_rdd_ids(spark) - before == set()


def test_dedup_cache_scopes_nest(spark):
    docs = _docs(spark)
    before = _cached_rdd_ids(spark)
    with dedup_cache_scope():
        minhash_near_dup_pairs(docs, "doc_id", "text").count()
        outer_pinned = _cached_rdd_ids(spark) - before
        with dedup_cache_scope():
            simhash_candidate_pairs(docs, "doc_id", "text").count()
        # inner scope released only its own persists
        assert _cached_rdd_ids(spark) - before == outer_pinned
    assert _cached_rdd_ids(spark) - before == set()


# ------------------------------- incremental store + compaction loop


def _batch(spark, batch: int, n: int = 4):
    """Distinct documents (token-disjoint across batches and docs, so
    zero accidental near-dups)."""
    rows = [
        Row(
            doc_id=100 * batch + i,
            text=" ".join(f"w{batch}x{i}y{j}" for j in range(20)),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm sun and the birds sing in the tall green trees near "
    "the old stone wall by the river bank"
)


def test_incremental_store_survives_compaction(spark, tmp_path):
    """The 100 TB operational loop end-to-end: land many small batches
    -> compact the signature store -> later probes still match, and a
    replayed batch stays idempotent against the compacted leaves."""
    store = tmp_path / "store"
    b0 = _batch(spark, 0).union(
        spark.createDataFrame([Row(doc_id=99, text=BASE)])
    )
    assert incremental_near_dup_batch(b0, str(store), batch_id=0).count() == 0
    for b in range(1, 6):
        v = incremental_near_dup_batch(_batch(spark, b), str(store),
                                       batch_id=b)
        assert v.count() == 0  # token-disjoint: no dups yet

    sigs_dir = store / "sigs"
    bands_dir = store / "bands"
    n_sigs_before = spark.read.parquet(str(sigs_dir)).count()
    batches_before = {
        d.name for d in sigs_dir.iterdir() if d.name.startswith("batch_id=")
    }
    assert len(batches_before) == 6

    # maintenance pass over both store tables
    assert compact_parquet_dir(spark, str(sigs_dir)) >= 1
    assert compact_parquet_dir(spark, str(bands_dir)) >= 1
    # partition tree preserved, no rows lost, no residue dirs
    assert {
        d.name for d in sigs_dir.iterdir() if d.is_dir()
    } == batches_before
    assert spark.read.parquet(str(sigs_dir)).count() == n_sigs_before

    # probe against the compacted index: a near-dup of the batch-0 doc
    probe = spark.createDataFrame(
        [Row(doc_id=600, text=BASE.replace("lazy", "sleepy"))]
    )
    v6 = incremental_near_dup_batch(probe, str(store), batch_id=6).collect()
    assert {(r.new_id, r.dup_of, r.scope) for r in v6} == {(600, 99, "index")}

    # replay an old batch id against the compacted store: dynamic
    # partition overwrite replaces exactly its own leaf — store row
    # count and verdicts unchanged
    v3 = incremental_near_dup_batch(_batch(spark, 3), str(store), batch_id=3)
    assert v3.count() == 0
    assert spark.read.parquet(str(sigs_dir)).count() == n_sigs_before + 1
    # and the compacted index still answers a second probe correctly
    v7 = incremental_near_dup_batch(
        spark.createDataFrame([Row(doc_id=700, text=BASE)]), str(store),
        batch_id=7,
    )
    got = {(r.new_id, r.dup_of, r.scope) for r in v7.collect()}
    assert (700, 99, "index") in got and (700, 600, "index") in got


# --------------------------------------- shingle reference parity


def test_shingle_sets_matches_python_reference(spark):
    """The regex shingler equals the plain-Python reference
    ``_shingle_list`` on every edge: null text, empty, whitespace runs
    and tabs, fewer words than the shingle length, exactly that length
    and one more, repeats (dedup order), case, and the characters the
    convention keeps as word characters (VT, NBSP, U+3000)."""
    from solana_etl_pipeline_spark.llm.dedup import _shingle_list, shingle_sets

    lengths = (1, 2, 3, 5, 8)
    texts = [
        None,
        "",
        "   ",
        "one",
        "one two",
        "one two three",
        "one two three four five six",
        "a b a b a b a b",  # repeated shingles: dedup keeps first
        "Tabs\tand\nnewlines   collapse  the same",
        "MiXeD CaSe LoWeRs",
        "vt\x0bjoins words\x0b here",
        "nb\u00a0sp stays in\u00a0a word",
        "ideo\u3000graphic space\u3000too ",
        " lead and trail\t",
    ]
    for n in lengths:
        exact = " ".join(f"w{i}" for i in range(n))
        texts += [exact, exact + " tail", "\t" + exact.upper() + "  "]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        schema="doc_id long, text string",
    )
    for n in lengths:
        got = {r._id: r._sh for r in shingle_sets(df, "doc_id", "text", n).collect()}
        want = {i: _shingle_list(t, n) for i, t in enumerate(texts)}
        assert got == want, f"shingle_len={n}: {got} != {want}"


# ------------------------------------- minhash contract + sig_impl pin


def test_minhash_arrow_and_agg_twins_structural_parity(spark):
    """The structural contract of minhash_signatures, which every
    MinHash caller relies on: doc coverage (no row for null/empty
    text), identical-text determinism, and near-dup estimates on the
    right side of the threshold."""
    from solana_etl_pipeline_spark.llm.dedup import minhash_signatures

    texts = [
        "the quick brown fox jumps over the lazy dog near the old wall",
        "the quick brown fox jumps over the sleepy dog near the old wall",
        "the quick brown fox jumps over the lazy dog near the old wall",
        "columnar engines shuffle partitions with vectorized operators",
        None,
        "",
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    sigs = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures(df, "doc_id", "text").collect()
    }
    assert set(sigs) == {0, 1, 2, 3}  # null/empty text: no signature
    assert sigs[0] == sigs[2]  # identical text -> identical sig
    est_near = sum(a == b for a, b in zip(sigs[0], sigs[1])) / 64
    est_far = sum(a == b for a, b in zip(sigs[0], sigs[3])) / 64
    assert est_near >= 0.5, f"near-dup est {est_near}"
    assert est_far < 0.3, f"unrelated est {est_far}"


def test_incremental_store_refuses_foreign_sig_impl(spark, tmp_path):
    """A store written under a different signature representation must
    refuse probes — cross-impl minima compare as noise, not as an
    error, so this has to fail loudly up front."""
    from solana_etl_pipeline_spark.llm import incremental as incr

    store = str(tmp_path / "store")
    b = spark.createDataFrame([Row(doc_id=0, text=BASE)])
    incremental_near_dup_batch(b, store, batch_id=0)
    orig = incr._SIG_IMPL
    incr._SIG_IMPL = orig + 1
    try:
        with pytest.raises(ValueError, match="sig_impl"):
            incremental_near_dup_batch(
                spark.createDataFrame([Row(doc_id=1, text=BASE)]),
                store,
                batch_id=1,
            )
    finally:
        incr._SIG_IMPL = orig


def test_simhash_arrow_and_agg_twins_structural_parity(spark):
    """The structural contract of simhash: order-invariant,
    deterministic on identical text, far apart on unrelated text, and
    no row for null/empty text."""
    from solana_etl_pipeline_spark.llm.dedup import simhash

    texts = [
        "the quick brown fox jumps over the lazy dog near the wall",
        "wall the near dog lazy the over jumps fox brown quick the",  # permuted
        "columnar engines shuffle partitions with vectorized operators",
        None,
        "",
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    sigs = {
        r.doc_id: r.simhash for r in simhash(df, "doc_id", "text").collect()
    }
    assert set(sigs) == {0, 1, 2}  # null/empty text: no row
    assert sigs[0] == sigs[1], "not order-invariant"
    ham = bin(sigs[0] ^ sigs[2]).count("1")
    assert ham > 10, f"unrelated docs hamming {ham}"


# ------------------- near-dup oracles on a crafted adversarial corpus


def test_near_dup_oracles_hold_on_short_docs_and_adjacent_ids(spark, tmp_path):
    """The fixture's docs are all >=10 words with a compact id space —
    two latent divergences hid there: (a) the oracle's positional
    3-gram CTE gave <3-word docs NO shingle set while the engine gives
    them one whole-text shingle, and (b) planted-probe offsets were a
    fixed literal that organic ids could collide with. Re-run three
    oracle-paired queries over a crafted corpus (identical 2-word
    twins, organic long near-dups, adjacent ids) through the SAME
    QuerySpec oracle SQL the driver uses."""
    import duckdb

    from solana_etl_pipeline_spark.queries import QUERIES

    long_a = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps in the warm afternoon sun near the old stone wall"
    )
    docs = [
        (0, "alpha beta"),                       # short twin 1
        (1, "alpha beta"),                       # short twin 2 (J=1.0)
        (2, "gamma delta"),                      # short non-dup
        (3, long_a),
        (4, long_a.replace("lazy", "sleepy")),   # organic near-dup of 3
        (5, "completely unrelated terms about engines and shuffles "
            "running vectorized plans on large clusters with columns"),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="crafted",
             n_chars=len(t)) for i, t in docs]
    ).write.parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    for name in (
        "llm_minhash_near_dup",
        "llm_ngram_jaccard",
        "llm_simhash_near_dup",
    ):
        spec = QUERIES[name]
        assert_matches_oracle(
            spec.spark(spark, sf_dir), con, spec.oracle, name=name
        )
    # sanity on the interesting rows: the short twins DID pair
    pairs = {
        (r.id_a, r.id_b)
        for r in QUERIES["llm_minhash_near_dup"].spark(spark, sf_dir).collect()
    }
    assert (0, 1) in pairs and (3, 4) in pairs


def test_cache_scope_is_thread_local(spark):
    """A scope on one thread must not capture (and later blocking-
    unpersist) persists made concurrently by another thread."""
    import threading

    from solana_etl_pipeline_spark.llm.dedup import (
        _scoped_persist,
        dedup_cache_scope,
    )

    other_df = []
    entered = threading.Event()
    release = threading.Event()

    def scoped_holder():
        with dedup_cache_scope():
            entered.set()
            release.wait(timeout=30)

    t = threading.Thread(target=scoped_holder)
    t.start()
    try:
        assert entered.wait(timeout=30)
        # main thread persists OUTSIDE any scope of its own while the
        # other thread's scope is open
        df = _scoped_persist(
            spark.range(10).select((F.col("id") * 2).alias("v"))
        )
        other_df.append(df)
        df.count()
        release.set()
        t.join(timeout=30)
        # the other thread's scope exit must NOT have unpersisted it
        assert df.storageLevel.useMemory or df.storageLevel.useDisk
    finally:
        release.set()
        t.join(timeout=30)
        for df in other_df:
            df.unpersist(blocking=True)


# ------------------------------------- memoized-fixture idempotence


def test_memoized_fixture_queries_are_invocation_idempotent(spark, sf_dir):
    """The streaming landing dirs and the incremental seed store are
    memoized per fixture dir (bench de-noising, round 9). Memoization
    must be invisible to results: a second invocation in the same
    process reuses the cached fixture and must return exactly the
    same rows — in particular the incremental query must copy its
    seed store per run (batch 1 indexes arrivals; replaying against a
    MUTATED store would re-match the previous run's arrivals and
    change the verdicts)."""
    from solana_etl_pipeline_spark.queries import QUERIES

    for name in ("streaming_hourly_rollup", "llm_incremental_near_dup"):
        first = QUERIES[name].spark(spark, sf_dir)
        second = QUERIES[name].spark(spark, sf_dir)
        assert first.exceptAll(second).count() == 0, name
        assert second.exceptAll(first).count() == 0, name
        assert first.count() > 0, name
