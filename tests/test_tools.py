"""Tests for the dev-harness tools (no SparkSession needed)."""

import os
import subprocess
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_make_scale_preserves_shard_invariants(tmp_path):
    """Every key stride must match the stride of the table it
    references, so shard i's facts point at shard i's dims — no
    cross-shard key can exist (the user_id/customer collision this
    guards against concentrated 10 shards of events onto shard 0's
    customers)."""
    dst = str(tmp_path / "sf2x")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "make_scale.py"),
         "2", "/root/testdata/sf0.001", dst],
        check=True, capture_output=True)
    con = duckdb.connect()

    def minmax(table, col):
        return con.execute(
            f"SELECT MIN({col}), MAX({col}) FROM '{dst}/{table}.parquet'"
        ).fetchone()

    # row counts doubled
    for t in ("customer", "orders", "lineitem", "events"):
        n0 = con.execute(
            f"SELECT COUNT(*) FROM '/root/testdata/sf0.001/{t}.parquet'"
        ).fetchone()[0]
        n1 = con.execute(
            f"SELECT COUNT(*) FROM '{dst}/{t}.parquet'").fetchone()[0]
        assert n1 == 2 * n0, t

    # referential closure: every FK value exists in its referenced PK
    # set (would fail if strides diverged)
    for fact, fk, dim, pk in [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("events", "user_id", "customer", "c_custkey"),
    ]:
        orphans = con.execute(
            f"SELECT COUNT(*) FROM '{dst}/{fact}.parquet' f "
            f"WHERE {fk} IS NOT NULL AND NOT EXISTS ("
            f"SELECT 1 FROM '{dst}/{dim}.parquet' d "
            f"WHERE d.{pk} = f.{fk})").fetchone()[0]
        # only valid if the SOURCE had referential closure too
        src_orphans = con.execute(
            f"SELECT COUNT(*) FROM '/root/testdata/sf0.001/{fact}.parquet' f "
            f"WHERE {fk} IS NOT NULL AND NOT EXISTS ("
            f"SELECT 1 FROM '/root/testdata/sf0.001/{dim}.parquet' d "
            f"WHERE d.{pk} = f.{fk})").fetchone()[0]
        assert orphans == 2 * src_orphans, (fact, fk, orphans, src_orphans)

    # shard separation: shard 1's keys start above shard 0's max
    for t, c in [("customer", "c_custkey"), ("orders", "o_orderkey"),
                 ("events", "event_id")]:
        src_lo, src_hi = con.execute(
            f"SELECT MIN({c}), MAX({c}) "
            f"FROM '/root/testdata/sf0.001/{t}.parquet'").fetchone()
        lo, hi = minmax(t, c)
        assert lo == src_lo and hi == src_hi + (src_hi + 1), (t, lo, hi)


def _load_detail():
    import json
    with open(os.path.join(ROOT, "BENCH_DETAIL.json")) as fh:
        return json.load(fh)


def _baseline_generation_pair():
    """(BASELINE.md text, BENCH_DETAIL dict) as of the commit that
    last TOUCHED BASELINE.md — i.e. the exact input/output pair of
    the `tools/update_baseline.py` run that generated the table.

    Why not the working tree or plain HEAD: the driver re-runs the
    bench in place each round and commits the fresh (noisy)
    BENCH_DETAIL.json without touching BASELINE.md, so both worktree
    and HEAD comparisons redden on pure timing noise (the r4 judge
    measured run-to-run swings up to ~3x on single sub-second
    queries on a loaded box — no fixed tolerance separates that from
    a real report drift).  Pairing at BASELINE.md's own generation
    commit makes the check exact (rounding-only) and noise-immune;
    a q10b-class silent regression is caught by the independent
    30 s outlier cap below, and added/renamed queries by the
    membership tests."""
    import json
    rev = subprocess.run(
        ["git", "log", "-1", "--format=%H", "--", "BASELINE.md"],
        cwd=ROOT, capture_output=True).stdout.decode().strip()
    if not rev:
        return (open(os.path.join(ROOT, "BASELINE.md")).read(),
                _load_detail())
    show = lambda p: subprocess.run(  # noqa: E731
        ["git", "show", f"{rev}:{p}"], cwd=ROOT,
        capture_output=True).stdout.decode()
    return show("BASELINE.md"), json.loads(show("BENCH_DETAIL.json"))


def test_baseline_worktree_matches_committed():
    """The generation-commit pairing above is blind to UNCOMMITTED
    hand-edits of BASELINE.md (it compares as of the file's last-touch
    commit).  Cheap complement: the working-tree BASELINE.md must be
    byte-identical to HEAD's — any legitimate regeneration commits in
    the same change (the repo's artifact-freshness rule), so a dirty
    BASELINE.md is always either a hand-edit or a forgotten commit."""
    head = subprocess.run(["git", "show", "HEAD:BASELINE.md"], cwd=ROOT,
                          capture_output=True).stdout.decode()
    if not head:
        return  # not yet committed (fresh clone mid-bootstrap)
    worktree = open(os.path.join(ROOT, "BASELINE.md")).read()
    assert worktree == head, (
        "working-tree BASELINE.md differs from HEAD — regenerate via "
        "tools/update_baseline.py and commit it with the bench "
        "sidecars, don't hand-edit")


def test_baseline_table3_matches_bench_detail():
    """Stale-artifact guard (VERDICT r3 item 3, de-brittled per r4
    item 1): BASELINE.md table 3 is generated from BENCH_DETAIL.json
    by tools/update_baseline.py — if the table does not match the
    sidecar it was generated from, the reporting was hand-edited or
    the generator broke.  Compared at BASELINE.md's own generation
    commit (see _baseline_generation_pair), so later driver bench
    re-runs cannot redden the suite; tolerance covers the 3-decimal
    rounding only."""
    import re
    base, det = _baseline_generation_pair()
    try:
        table3 = base.split("## Table 3 ")[1].split("## Table 4")[0]
    except IndexError:
        raise AssertionError("BASELINE.md lost its Table 3 heading")
    rows = dict(re.findall(
        r"^\| (\w+) \| (?:[\d.]+|—) \| ([\d.]+|ERROR) \|",
        table3, re.M))
    assert rows, "could not parse any Table 3 rows"
    missing = [k for k in det["queries"] if k not in rows]
    extra = [k for k in rows if k not in det["queries"]]
    assert not missing, f"Table 3 missing bench queries: {missing[:5]}"
    assert not extra, f"Table 3 has rows not in BENCH_DETAIL: {extra[:5]}"
    drift = {k: (rows[k], det["queries"][k]) for k in rows
             if rows[k] != "ERROR"
             and abs(float(rows[k]) - det["queries"][k]) > 0.0015}
    assert not drift, f"Table 3 drifted from BENCH_DETAIL: {drift}"
    # and the generated table must still cover the CURRENT declared
    # corpus — a query added without re-running update_baseline would
    # otherwise hide behind the (self-consistent) generation pair
    sys.path.insert(0, ROOT)
    from bi_etl_and_integration_spark.queries import QUERIES
    stale = sorted(set(QUERIES) - set(rows))
    assert not stale, (
        f"Table 3 lacks rows for declared queries {stale[:5]} — "
        "re-run the bench and tools/update_baseline.py")


def test_bench_detail_covers_declared_corpus():
    """BENCH_DETAIL must time every declared query — a query added to
    queries.py without a fresh full bench run leaves the committed
    perf reporting silently incomplete."""
    sys.path.insert(0, ROOT)
    from bi_etl_and_integration_spark.queries import QUERIES
    det = _load_detail()
    missing = sorted(set(QUERIES) - set(det["queries"]))
    assert not missing, (
        f"BENCH_DETAIL.json is stale: no timing for {missing} — "
        f"re-run `python bench.py` (full) and commit the sidecar")


def test_correctness_local_covers_declared_corpus():
    """CORRECTNESS_LOCAL.md must be regenerated (oracle_check.py
    --write-md) in the same change that adds or renames queries."""
    sys.path.insert(0, ROOT)
    from bi_etl_and_integration_spark.queries import QUERIES
    text = open(os.path.join(ROOT, "CORRECTNESS_LOCAL.md")).read()
    assert f"({len(QUERIES)} queries)" in text, (
        "CORRECTNESS_LOCAL.md header does not match the declared "
        f"corpus size ({len(QUERIES)}) — regenerate with "
        "`python tools/oracle_check.py /root/testdata/sf0.01 "
        "--write-md`")
    missing = [n for n in QUERIES if n not in text]
    assert not missing, f"no local verdict line for: {missing[:5]}"


def test_plans_md_covers_declared_corpus():
    """PLANS.md must be regenerated (explain_corpus.py --md) in the
    same change that adds or renames queries: one row per declared
    query and none for a query that is gone."""
    sys.path.insert(0, ROOT)
    from bi_etl_and_integration_spark.queries import QUERIES
    with open(os.path.join(ROOT, "PLANS.md")) as f:
        names = {line.split("|")[1].strip() for line in f
                 if line.startswith("| ")} - {"query", "---"}
    missing = [n for n in QUERIES if n not in names]
    assert not missing, (
        f"no PLANS.md row for: {missing[:5]} — regenerate with "
        "`python tools/explain_corpus.py <sf0.001 dir> --md > PLANS.md`")
    assert names <= set(QUERIES), sorted(names - set(QUERIES))[:5]


def test_no_pathological_bench_outlier():
    """Commit-time guard for the round-3 failure class: a single
    query silently regressing to a 100x plan (q10b: 106.7s, Expand +
    sketch spill) while the committed reporting goes stale.  No batch
    query may exceed 30s at sf0.1, and the corpus must not spill."""
    det = _load_detail()
    streaming = set(det.get("streaming_queries", []))
    slow = {k: v for k, v in det["queries"].items()
            if v > 30 and k not in streaming}
    assert not slow, f"pathological bench outlier(s): {slow}"
    assert not det.get("spill_mb"), (
        f"corpus spilled: {det['spill_mb']} — a partition outgrew "
        f"executor memory; repartition or fix the plan")


def test_bench_detail_has_no_negative_shuffle():
    """Per-query shuffle and spill are byte counts of the first timed
    run's own stages: a negative reading means the measurement diffed
    totals over a stage list Spark caps, not the query's work."""
    det = _load_detail()
    bad = {k: v for key in ("shuffle_mb", "spill_mb")
           for k, v in det.get(key, {}).items() if v < 0}
    assert not bad, f"negative per-query bytes: {bad}"


def test_make_scale_text_bijection(tmp_path):
    """documents.text replicas must be per-shard token bijections of
    the base corpus (r7): shard 0 verbatim; shard i>0 token-suffixed so
    within-shard Jaccard equals the base corpus and cross-shard
    similarity is zero — distinct-text count scales exactly linearly."""
    dst = str(tmp_path / "sf3x")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "make_scale.py"),
         "3", "/root/testdata/sf0.001", dst],
        check=True, capture_output=True)
    con = duckdb.connect()
    src = "/root/testdata/sf0.001/documents.parquet"
    n_base, d_base = con.execute(
        f"SELECT COUNT(*), COUNT(DISTINCT text) FROM '{src}'").fetchone()
    n, d = con.execute(
        f"SELECT COUNT(*), COUNT(DISTINCT text) "
        f"FROM '{dst}/documents.parquet'").fetchone()
    assert n == 3 * n_base and d == 3 * d_base
    stride = con.execute(
        f"SELECT MAX(doc_id) + 1 FROM '{src}'").fetchone()[0]
    # shard 2 of doc 0 is exactly the token-suffixed base text
    base_text = con.execute(
        f"SELECT text FROM '{src}' WHERE doc_id = 0").fetchone()[0]
    rep = con.execute(
        f"SELECT text FROM '{dst}/documents.parquet' "
        f"WHERE doc_id = {2 * stride}").fetchone()[0]
    expect = " ".join(w + "x2" if w else w for w in base_text.split(" "))
    assert rep == expect
    # ADVICE r7: the exactly-0 cross-shard-similarity claim requires
    # that NO base token already matches the shard-image pattern
    # .*x<digits> — assert it on the real fixture (make_scale itself
    # aborts when violated), for every SF the benches consume
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        hits = con.execute(
            "SELECT COUNT(*) FROM (SELECT UNNEST(string_split(text,' '))"
            f" AS tok FROM '/root/testdata/{sf}/documents.parquet') "
            "WHERE regexp_matches(tok, '.x[0-9]+$')").fetchone()[0]
        assert hits == 0, (sf, hits)


def test_make_scale_aborts_on_image_pattern_collision(tmp_path):
    """A source corpus containing a token that ends in x<digits> must
    abort make_scale (the bijection's disjointness precondition)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    src = tmp_path / "bad"
    src.mkdir()
    pq.write_table(pa.table({"doc_id": [0], "text": ["the foxx2 ran"],
                             "source": ["t"]}),
                   src / "documents.parquet")
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "make_scale.py"),
         "2", str(src), str(tmp_path / "out")],
        capture_output=True, text=True)
    assert r.returncode != 0
    assert "image pattern" in (r.stdout + r.stderr)


def test_normalized_regression_gate():
    """bench.normalized_regressions (VERDICT r10 item 4): uniform
    window inflation must NOT flag anything (it divides out through
    the stable-row median), while a genuinely per-query regression
    must survive the normalization.  The calibration median must be
    robust to the regressed rows themselves, and sparse windows
    (< 5 comparable stable rows) must fall back to the raw gate."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(ROOT, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    prev = {f"q{i:02d}": 1.0 for i in range(20)}
    kw = dict(spread_gate=0.20, regress_gate=0.25, spread_floor=0.4)

    # 1) uniform 1.4x inflation, tight spreads: the OLD raw gate would
    #    flag all 20 rows; the normalized gate flags none
    times = {q: 1.4 for q in prev}
    spread = {q: 0.05 for q in prev}
    flagged, cal = bench.normalized_regressions(times, prev, spread, **kw)
    assert flagged == {} and abs(cal - 1.4) < 1e-9

    # 2) same window + one real 3x regression: only that row flagged,
    #    with the calibration recorded alongside
    times["q07"] = 3.0
    flagged, cal = bench.normalized_regressions(times, prev, spread, **kw)
    assert list(flagged) == ["q07"] and abs(cal - 1.4) < 1e-9
    assert flagged["q07"][0] == 1.0 and flagged["q07"][1] == 3.0

    # 3) a quiet window (ratio 1.0) with one regression: raw behavior
    times = {q: 1.0 for q in prev}
    times["q03"] = 1.5
    flagged, cal = bench.normalized_regressions(times, prev, spread, **kw)
    assert list(flagged) == ["q03"] and abs(cal - 1.0) < 1e-9

    # 4) high-spread rows are excluded from calibration: 15 stable rows
    #    at 1.0 + 5 drifted rows at 2.0 with wide spread -> cal stays
    #    1.0 and the drifted rows ARE flagged (their spread makes them
    #    suspect; the dispersion gate handles re-measurement)
    times = {q: 1.0 for q in prev}
    spread = {q: 0.05 for q in prev}
    for q in ("q00", "q01", "q02", "q03", "q04"):
        times[q] = 2.0
        spread[q] = 0.5
    flagged, cal = bench.normalized_regressions(times, prev, spread, **kw)
    assert abs(cal - 1.0) < 1e-9
    assert sorted(flagged) == ["q00", "q01", "q02", "q03", "q04"]

    # 5) sub-floor walls count as stable even with jittery spread
    prev_small = {f"s{i}": 0.2 for i in range(6)}
    times = {q: 0.3 for q in prev_small}        # 1.5x but < floor
    spread = {q: 0.9 for q in prev_small}       # jitter, not drift
    flagged, cal = bench.normalized_regressions(times, prev_small,
                                                spread, **kw)
    assert flagged == {} and abs(cal - 1.5) < 1e-9

    # 6) sparse window: < 5 comparable rows -> raw gate (cal 1.0)
    prev2 = {"a": 1.0, "b": 1.0}
    flagged, cal = bench.normalized_regressions(
        {"a": 1.4, "b": 1.4}, prev2, {"a": 0.0, "b": 0.0}, **kw)
    assert cal == 1.0 and sorted(flagged) == ["a", "b"]

    # 7) errored rows (-1) and rows without a committed value ignored
    flagged, cal = bench.normalized_regressions(
        {"a": -1.0, "new": 9.9}, {"a": 1.0}, {}, **kw)
    assert flagged == {} and cal == 1.0


def test_every_tool_is_documented():
    """Every script in tools/ must be named in the verify skill, so a
    one-off probe cannot land there without a documented, reusable
    purpose (one-off probes belong in a scratch directory)."""
    skill = open(os.path.join(ROOT, ".claude", "skills", "verify",
                              "SKILL.md")).read()
    tools = sorted(f for f in os.listdir(os.path.join(ROOT, "tools"))
                   if f.endswith(".py"))
    assert tools, "tools/ has no scripts"
    undocumented = [f for f in tools if f"tools/{f}" not in skill]
    assert not undocumented, (
        f"tools/ scripts not named in .claude/skills/verify/SKILL.md: "
        f"{undocumented}")


def _py_files(*rels):
    for rel in rels:
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            yield path
            continue
        for d, _, files in os.walk(path):
            yield from (os.path.join(d, f) for f in files
                        if f.endswith(".py"))


def _referenced_names(node):
    import ast
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def test_every_public_definition_is_used():
    """Every public top-level def/class in the package must be named
    somewhere besides its own body — in the package, the tests, tools/,
    perfbench/, bench.py or the driver entry — so an orphaned helper
    is deleted instead of kept as an archive.  Declared queries (``@q``)
    and the SSIS vocabulary in ``functions.__all__`` are surface by
    declaration and exempt."""
    import ast
    from collections import Counter

    from bi_etl_and_integration_spark import functions

    pkg = os.path.join(ROOT, "bi_etl_and_integration_spark")
    uses: Counter = Counter()
    defs = []
    for path in _py_files("bi_etl_and_integration_spark", "tests",
                          "tools", "perfbench", "bench.py",
                          "__spark_entry__.py"):
        with open(path) as f:
            tree = ast.parse(f.read())
        uses.update(_referenced_names(tree))
        if not path.startswith(pkg + os.sep):
            continue
        for node in tree.body:
            if (isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    and not node.name.startswith("_")
                    and not any(isinstance(d, ast.Call)
                                and getattr(d.func, "id", None) == "q"
                                for d in node.decorator_list)):
                defs.append((os.path.relpath(path, ROOT), node))
    unused = [f"{rel}:{node.lineno} {node.name}" for rel, node in defs
              if node.name not in functions.__all__
              and uses[node.name] == sum(
                  1 for x in _referenced_names(node) if x == node.name)]
    assert not unused, f"public definitions nothing uses: {unused}"


def test_persist_only_through_cached():
    """Every cache in the package goes through
    ``operators.common.cached`` so that one ``cache_scope()`` frees
    it: no ``.persist(`` or ``.cache()`` call anywhere else."""
    import ast

    common = os.path.join(ROOT, "bi_etl_and_integration_spark",
                          "operators", "common.py")
    raw = []
    for path in _py_files("bi_etl_and_integration_spark"):
        if path == common:
            continue
        with open(path) as f:
            tree = ast.parse(f.read())
        raw += [f"{os.path.relpath(path, ROOT)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("persist", "cache")]
    assert not raw, f"raw persist/cache calls (use cached()): {raw}"


def test_indexes_persist_only_through_snapshots():
    """The engine's indexes commit through ``SnapshotTable``:
    ``operators/similarity.py`` makes no DataFrameWriter access (a
    ``.write`` attribute that is not itself called, as in
    ``df.write.mode(...)``; ``SnapshotTable.write(df)`` is a call),
    ``streaming/dedup.py`` exactly one (the survivors export), and
    neither deletes files — ``SnapshotTable.vacuum`` is the one
    deleter."""
    import ast

    want = {"operators/similarity.py": 0, "streaming/dedup.py": 1}
    for rel, n_writes in want.items():
        path = os.path.join(ROOT, "bi_etl_and_integration_spark", rel)
        with open(path) as f:
            tree = ast.parse(f.read())
        called = {id(n.func) for n in ast.walk(tree)
                  if isinstance(n, ast.Call)}
        writes = [n.lineno for n in ast.walk(tree)
                  if isinstance(n, ast.Attribute) and n.attr == "write"
                  and id(n) not in called]
        rmtree = [n.lineno for n in ast.walk(tree)
                  if isinstance(n, ast.Call)
                  and getattr(n.func, "attr", None) == "rmtree"]
        assert len(writes) == n_writes, f"{rel}: writes at {writes}"
        assert not rmtree, f"{rel}: rmtree at {rmtree}"


def test_row_number_only_through_limit_by():
    """Every "rank rows per key, keep rank <= k" in the package goes
    through ``operators.windows.limit_by``: ``row_number`` is called
    only there and where the rank is read as a value, not filtered on
    (``similarity.rrf_fuse``'s RRF contribution,
    ``aggregate.topn_others``' tail relabel)."""
    import ast

    allowed = {("operators/windows.py", "limit_by"),
               ("operators/similarity.py", "rrf_fuse"),
               ("operators/aggregate.py", "topn_others")}
    pkg = os.path.join(ROOT, "bi_etl_and_integration_spark")
    stray = []
    for path in _py_files("bi_etl_and_integration_spark"):
        rel = os.path.relpath(path, pkg).replace(os.sep, "/")
        with open(path) as f:
            tree = ast.parse(f.read())
        for top in tree.body:
            owner = (rel, getattr(top, "name", None))
            stray += [f"{rel}:{n.lineno}" for n in ast.walk(top)
                      if isinstance(n, ast.Call)
                      and (getattr(n.func, "attr", None)
                           or getattr(n.func, "id", None)) == "row_number"
                      and owner not in allowed]
    assert not stray, f"row_number outside limit_by: {stray}"


def test_dedup_shingles_and_jaccard_built_once():
    """The Jaccard pair generators share one shingle-set base and one
    verify: ``operators/dedup.py`` calls ``hashed_shingles`` and
    ``array_intersect`` exactly once each, so a generator cannot grow
    its own copy whose threshold or rounding drifts."""
    import ast
    from collections import Counter

    path = os.path.join(ROOT, "bi_etl_and_integration_spark",
                        "operators", "dedup.py")
    with open(path) as f:
        tree = ast.parse(f.read())
    calls = Counter(
        n.func.attr if isinstance(n.func, ast.Attribute)
        else getattr(n.func, "id", None)
        for n in ast.walk(tree) if isinstance(n, ast.Call))
    assert calls["hashed_shingles"] == 1, calls["hashed_shingles"]
    assert calls["array_intersect"] == 1, calls["array_intersect"]


def test_centroid_update_built_once():
    """Every k-means in ``operators/similarity.py`` (IVF lists, PQ
    codebooks, coarse grouping, ``kmeans_fit``) trains through
    ``_lloyd``: the module has exactly one centroid-mean site — a
    ``mean``/``avg`` call or a ``sum`` over axis 0 — so a trainer
    cannot grow its own loop with its own empty-cluster rule."""
    import ast

    def _is_mean(call):
        f = call.func
        if not isinstance(f, ast.Attribute):
            return False
        axis = [k.value for k in call.keywords if k.arg == "axis"]
        return f.attr in ("mean", "avg") or f.attr == "sum" and any(
            isinstance(a, ast.Constant) and a.value == 0
            for a in axis + call.args[:1])

    path = os.path.join(ROOT, "bi_etl_and_integration_spark",
                        "operators", "similarity.py")
    with open(path) as f:
        tree = ast.parse(f.read())
    sites = sorted(n.lineno for n in ast.walk(tree)
                   if isinstance(n, ast.Call) and _is_mean(n))
    assert len(sites) == 1, f"centroid-mean sites at lines {sites}"


def test_word_splits_only_through_tokenize():
    """Every split-into-words in the package goes through
    ``operators.fuzzy.tokenize``: no ``filter(split(...), t != "")`` or
    ``array_remove(split(...), "")`` anywhere else, so a tokenizer
    cannot drift on empty tokens or leading whitespace.  The one
    exception is ``text.token_count``, whose filter-lambda form is
    measured faster in x12b (see its comment)."""
    import ast

    def _name(f):
        return f.attr if isinstance(f, ast.Attribute) \
            else getattr(f, "id", None)

    def _drops_empty(call):
        if len(call.args) < 2:
            return False
        pred = call.args[1]
        if _name(call.func) == "array_remove":
            return isinstance(pred, ast.Constant) and pred.value == ""
        return (isinstance(pred, ast.Lambda)
                and isinstance(pred.body, ast.Compare)
                and isinstance(pred.body.left, ast.Name)
                and isinstance(pred.body.ops[0], ast.NotEq)
                and isinstance(pred.body.comparators[0], ast.Constant)
                and pred.body.comparators[0].value == "")

    fuzzy, text = (os.path.join(ROOT, "bi_etl_and_integration_spark",
                                "operators", f)
                   for f in ("fuzzy.py", "text.py"))
    raw = []
    for path in _py_files("bi_etl_and_integration_spark"):
        with open(path) as f:
            tree = ast.parse(f.read())
        kept = {fuzzy: "tokenize", text: "token_count"}.get(path)
        skip = {id(n) for d in ast.walk(tree)
                if isinstance(d, ast.FunctionDef) and d.name == kept
                for n in ast.walk(d)}
        raw += [f"{os.path.relpath(path, ROOT)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Call) and id(n) not in skip
                and _name(n.func) in ("filter", "array_remove")
                and n.args and isinstance(n.args[0], ast.Call)
                and _name(n.args[0].func) == "split"
                and _drops_empty(n)]
    assert not raw, f"hand-written word splits (use tokenize()): {raw}"


def test_staged_table_prefixes_are_declared():
    """bench.py removes dead sessions' staged tables by the prefixes in
    ``queries.STAGE_PREFIXES``: every staged-table prefix queries.py
    names must be listed there, or its directories pile up in the
    warehouse."""
    import ast

    from bi_etl_and_integration_spark.queries import STAGE_PREFIXES

    with open(os.path.join(ROOT, "bi_etl_and_integration_spark",
                           "queries.py")) as f:
        tree = ast.parse(f.read())
    used = set()
    for n in ast.walk(tree):
        # _staged_tables(spark, cat, "<prefix>", specs)
        if (isinstance(n, ast.Call)
                and getattr(n.func, "id", None) == "_staged_tables"):
            used.add(n.args[2].value)
        # f"<prefix>_<table>_{sfx}": a name on the _stage_suffix suffix
        if (isinstance(n, ast.JoinedStr)
                and isinstance(n.values[0], ast.Constant)
                and any(isinstance(v, ast.FormattedValue)
                        and getattr(v.value, "id", None) == "sfx"
                        for v in n.values)):
            used.add(n.values[0].value.split("_")[0])
    assert used and used <= set(STAGE_PREFIXES), (used, STAGE_PREFIXES)


def test_update_baseline_refuses_spark_only_sidecar(tmp_path, monkeypatch):
    """A BENCH_DETAIL.json without a ``duckdb`` map (any plain
    ``python bench.py`` run) makes tools/update_baseline.py exit
    non-zero before it writes BASELINE.md, instead of blanking table
    3's DuckDB column and ratios."""
    import importlib.util
    import json
    import shutil

    import pytest

    spec = importlib.util.spec_from_file_location(
        "update_baseline", os.path.join(ROOT, "tools", "update_baseline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with open(os.path.join(ROOT, "BENCH_DETAIL.json")) as f:
        det = json.load(f)
    det.pop("duckdb", None)
    (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(det))
    for name in ("BENCH_SF1.json", "BASELINE.md"):
        shutil.copy(os.path.join(ROOT, name), tmp_path / name)
    before = (tmp_path / "BASELINE.md").read_text()
    monkeypatch.setattr(mod, "ROOT", str(tmp_path))
    with pytest.raises(SystemExit) as exc:
        mod.main()
    assert exc.value.code and "duckdb" in str(exc.value.code)
    assert (tmp_path / "BASELINE.md").read_text() == before
