"""Source-level plan-shape lint: joins probing an explode-derived
relation must carry an explicit strategy (hint / broadcast /
checkpoint) — Spark's static size estimate for an exploded relation is
the PRE-explode scan size, so leaving the choice to the planner
broadcast 12.1 GiB build sides at sf10/sf30 (text_cooccurrence,
text_gram_novelty, dedup_paragraph — all found by cold suite runs,
round 6). This guard makes the next occurrence a test failure instead
of a scale-run crash.

Mechanics: for every assignment whose defining statement contains an
explode and no localCheckpoint, a `.join(` on that name within the
next 60 lines must be preceded (same statement window) by a
`.hint(`, an `F.broadcast(` / `bcast(` on either side, or the name
must be re-bound through a checkpoint first. Sites audited and judged
safe (bounded series, agg-derived sides with exact AQE stats,
explicit broadcasts) are allowlisted with their rationale.

Allowlist keys are (path-suffix, enclosing-function, var-name) — NOT
just (path, var) — so a future explode-derived variable reusing an
allowlisted name in a different function is still linted (round-6
ADVICE). test_allowlist_not_stale asserts every ALLOW key still
covers a join the lint would otherwise flag, so a refactor that
renames or checkpoints a guarded variable, or drops or hints its join,
fails the suite loudly instead of leaving a dead entry silently
covering new code.
"""

import ast
import os
import re

BASE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "blog_snapshotbackup_azuredatalake_spark",
)

# (path-suffix, enclosing function, var-name): audited-safe rationale
ALLOW = {
    # bounded daily/series relations (≤ time-span rows), both sides tiny
    ("plans/timeseries.py", "q_autocorr_daily", "a"):
        "daily series ×7 lags, series-sized",
    # grid/obs are bounded (event_type × hour) / agg-derived
    ("plans/analytics_ext.py", "q_gap_fill", "obs"): "bounded hourly grid",
    ("plans/analytics_ext.py", "q_gap_fill", "grid"): "bounded hourly grid",
    # pairs derives from a checkpointed relation (unknown→large stats)
    ("plans/analytics_ext.py", "q_basket_affinity", "pairs"):
        "checkpoint-derived, agg sides",
    # tv-divergence grid: both join sides are agg-derived (AQE-exact)
    ("operators/text.py", "text_source_tv_divergence", "counts"):
        "agg-derived vocab grid",
    # calibration truth sets: grams_cached is checkpoint-backed
    ("operators/dedup.py", "dedup_lsh_calibration", "ex"):
        "checkpoint-backed grams, capped cal set",
    # chunked substrate is localCheckpoint'ed; cdc/fixed are per-source aggs
    ("operators/multimodal.py", "mm_cdc_chunk_dedup", "cdc"):
        "aggs of checkpointed substrate",
    ("operators/multimodal.py", "mm_cdc_chunk_dedup", "fixed"):
        "aggs of checkpointed substrate",
    # nu/nv are agg-derived (AQE-exact)
    ("operators/graph.py", "graph_clustering_coefficient", "nu"):
        "agg-derived adjacency",
    ("operators/graph.py", "graph_clustering_coefficient", "nv"):
        "agg-derived adjacency",
    # SCD2 dim is dimension-scale by contract
    ("operators/snapshot.py", "snap_scd2_asof_join", "dim"):
        "dimension-scale SCD2 relation",
    # salt replication of an explicitly small dim (the utility contract)
    ("functions/skew.py", "salted_join", "salted_facts"):
        "salted-join utility contract",
    ("functions/skew.py", "salted_join", "replicated"):
        "salted-join utility contract",
}


def _scan():
    """Return (violations, needed): every unguarded explode-probe join
    outside ALLOW, plus the ALLOW keys (rel, func, name) whose site
    would otherwise be one — the staleness test checks ALLOW against
    the latter."""
    violations = []
    needed = set()
    for root, _, files in os.walk(BASE):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(root, f)
            rel = os.path.relpath(p, BASE)
            src = open(p).read()
            lines = src.split("\n")
            # AST-scoped enclosing function (round-7 ADVICE): the old
            # column-0 `def` regex attributed method bodies and
            # post-function module code to the previous top-level def.
            # Innermost function wins; module level maps to None.
            func_of = {}
            for node in ast.walk(ast.parse(src)):
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    for li in range(node.lineno, node.end_lineno + 1):
                        prev = func_of.get(li)
                        if prev is None or node.lineno > prev[0]:
                            func_of[li] = (node.lineno, node.name)
            assigns = {}
            for i, ln in enumerate(lines):
                func = (func_of.get(i + 1) or (0, None))[1]
                m = re.match(r"\s*(\w+) = ", ln)
                if m:
                    stmt = "\n".join(lines[i : i + 8])
                    if (
                        "explode" in stmt
                        and "localCheckpoint" not in stmt
                    ):
                        assigns[(m.group(1), func)] = i + 1
            for (name, fn), lineno in assigns.items():
                for j, ln in enumerate(
                    lines[lineno : lineno + 60], start=lineno + 1
                ):
                    if re.search(
                        rf"\b{name}\s*=\s*{name}\.localCheckpoint", ln
                    ) or re.search(rf"\b{name}\.hint\(", ln):
                        break
                    if re.search(rf"\b{name}\.join\(", ln) or re.search(
                        rf"\.join\({name}\b", ln
                    ):
                        if (
                            "broadcast" in ln
                            or "bcast" in ln
                            or ".hint(" in ln
                        ):
                            break
                        if (rel, fn, name) in ALLOW:
                            needed.add((rel, fn, name))
                        else:
                            violations.append(
                                f"{rel}:{j}: {name} in {fn} -> "
                                f"{ln.strip()[:80]}"
                            )
                        break
    return violations, needed


def test_no_unhinted_explode_probe_joins():
    v, _ = _scan()
    assert not v, (
        "explode-derived relation joined without an explicit strategy "
        "(merge hint / broadcast / checkpoint) — static size estimates "
        "are pre-explode and WILL mis-broadcast at scale; either fix "
        "the join or allowlist with a rationale:\n" + "\n".join(v)
    )


def test_allowlist_not_stale():
    _, needed = _scan()
    stale = [k for k in ALLOW if k not in needed]
    assert not stale, (
        "ALLOW entries no longer cover an explode-derived relation "
        "joined without a strategy — the guarded variable was renamed, "
        "moved or checkpointed, or its join is gone or now carries one; "
        "delete or re-key these entries so the allowlist can't silently "
        "cover new code:\n"
        + "\n".join(str(k) for k in stale)
    )


# ---------------------------------------------------------------------------
# Derived-array-under-join lint (round-9 verdict item 3): the trap class
# that cost 13.4x on ann_topk_ivfpq_residual (round 8) and 3.2x on
# ann_topk_ivfpq at 4.8M vectors (round 9). Mechanism: a DERIVED ARRAY
# column (giant literal encode expression, zip_with/transform
# construction) consumed under a join re-evaluates its construction per
# JOIN-OUTPUT row when the projection runs interpreted — the fix is a
# localCheckpoint barrier that materializes the array once. A plain
# scan column is safe (measured control, SCALING.md round 8); sites
# where the A/B showed the join shape evaluates once per corpus row
# are allowlisted WITH their measured numbers.
# ---------------------------------------------------------------------------

# (path-suffix, enclosing function, var-name): measured-safe rationale
DERIVED_ARRAY_ALLOW = {}

_DERIVED_MARKERS = ("encode_sql(",)
_ARRAY_BUILDERS = ("zip_with(", "F.transform(")


def _derived_array_assign(seg: str) -> bool:
    """Does this assignment's source build a derived ARRAY column?

    encode_sql( emitters always qualify (giant literal array
    expressions — the measured disease). zip_with/F.transform qualify
    only when aliased into a named column and NOT folded to a scalar
    by F.aggregate in the same expression (fold consumers evaluate to
    scalars; the trap needs a persisted array column)."""
    if any(m in seg for m in _DERIVED_MARKERS):
        return True
    return (
        any(m in seg for m in _ARRAY_BUILDERS)
        and ".alias(" in seg
        and "F.aggregate(" not in seg
        and "aggregate(" not in seg
    )


_SCAN_DERIVED_CACHE = []


def _scan_derived(sources=None):
    """Returns (violations, found): the hits of ``_derived_hits`` whose
    site DERIVED_ARRAY_ALLOW does not cover, and every derived-array
    assignment key seen."""
    hits, found = _derived_hits(sources)
    return [m for k, m in hits if k not in DERIVED_ARRAY_ALLOW], found


def _derived_hits(sources=None):
    """sources: optional {rel_path: src} override for synthetic repro
    tests; default walks the package (cached — several tests share the
    ~30 s AST sweep). Returns (hits, found): each unbarriered
    derived-array join or return as ((rel, func, name), message),
    allowlisted or not, and every derived-array assignment key seen."""
    if sources is None and _SCAN_DERIVED_CACHE:
        return _SCAN_DERIVED_CACHE[0]
    hits = []
    found = set()
    cache_it = sources is None
    if sources is None:
        sources = {}
        for root, _, files in os.walk(BASE):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    sources[os.path.relpath(p, BASE)] = open(p).read()
    for rel, src in sources.items():
        lines = src.split("\n")
        func_of = {}
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for li in range(node.lineno, node.end_lineno + 1):
                    prev = func_of.get(li)
                    if prev is None or node.lineno > prev[0]:
                        func_of[li] = (node.lineno, node.name, node.end_lineno)
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Assign)
                and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
            ):
                continue
            # full-line slice instead of ast.get_source_segment:
            # the latter re-splits the source per node (the two
            # repo-wide tests measured ~30 s each); line-bounded
            # text is a superset that serves the marker match
            seg = "\n".join(lines[node.lineno - 1 : node.end_lineno])
            if not _derived_array_assign(seg):
                continue
            name = node.targets[0].id
            func = (func_of.get(node.lineno) or (0, None))[1]
            found.add((rel, func, name))
            if "localCheckpoint" in seg:
                continue  # barrier in the defining statement
            # Re-bind / barrier detection via the AST, not a line regex
            # (round-10 ADVICE fix): the old `\bname\.localCheckpoint`
            # line match accepted a bare discarded
            # `name.localCheckpoint()` — which barriers NOTHING in
            # PySpark — and the old `\bname\s*=\s*` re-bind match also
            # fired on comparisons (`name == x`) and keyword args
            # (`f(name=1)`), silently ending the scan before a real
            # unbarriered join. Now: only a genuine Assign whose single
            # target is `name`, in the same enclosing function, counts.
            # An assignment `name = name.localCheckpoint(...)` is the
            # barrier; an assignment whose RHS never references `name`
            # re-binds it (scan stops — later joins are on a different
            # relation); a self-referencing rebind without a barrier
            # (`name = name.filter(...)`) keeps the scan going, as
            # before.
            stop = None
            for rb in sorted(
                (
                    n
                    for n in ast.walk(tree)
                    if isinstance(n, ast.Assign)
                    and len(n.targets) == 1
                    and isinstance(n.targets[0], ast.Name)
                    and n.targets[0].id == name
                    and n.lineno > node.end_lineno
                    and (func_of.get(n.lineno) or (0, None))[1] == func
                ),
                key=lambda n: n.lineno,
            ):
                rb_src = "\n".join(lines[rb.lineno - 1 : rb.end_lineno])
                if re.search(rf"\b{name}\.localCheckpoint", rb_src):
                    stop = rb.lineno  # barrier in assignment form
                    break
                if not any(
                    isinstance(sub, ast.Name) and sub.id == name
                    for sub in ast.walk(rb.value)
                ):
                    stop = rb.lineno  # re-bound to an unrelated value
                    break
            start = node.end_lineno  # 0-based index of the next line
            end = start + 60
            if stop is not None:
                end = min(end, stop - 1)
            # a same-named variable in a later function is another
            # relation: the window ends with the enclosing function
            if func is not None:
                end = min(end, func_of[node.lineno][2])
            for j, ln in enumerate(lines[start:end], start=start + 1):
                if re.search(
                    rf"\b{name}\.(join|crossJoin)\(", ln
                ) or re.search(rf"\.(join|crossJoin)\(\s*{name}\b", ln):
                    hits.append((
                        (rel, func, name),
                        f"{rel}:{j}: derived-array relation '{name}' in "
                        f"{func} consumed under a join without a "
                        f"localCheckpoint barrier -> {ln.strip()[:80]}",
                    ))
                    break
            else:
                # A builder that hands the relation back (`return name`)
                # leaves the join to its callers, where no marker is in
                # sight: the barrier must be in place before it escapes.
                for ret in ast.walk(tree):
                    if (
                        isinstance(ret, ast.Return)
                        and isinstance(ret.value, ast.Name)
                        and ret.value.id == name
                        and ret.lineno > node.end_lineno
                        and (stop is None or ret.lineno < stop)
                        and (func_of.get(ret.lineno) or (0, None))[1]
                        == func
                    ):
                        hits.append((
                            (rel, func, name),
                            f"{rel}:{ret.lineno}: derived-array relation "
                            f"'{name}' in {func} returned to callers "
                            f"without a localCheckpoint barrier",
                        ))
                        break
    result = (hits, found)
    if cache_it:
        _SCAN_DERIVED_CACHE.append(result)
    return result


_REPRO_TRAP = '''
def ivfpq_like(spark, sf_dir):
    coded = emb.select(
        "vec_id",
        F.expr(_pq_encode_sql(cb, ks)).alias("codes"),
    )
    scored = coded.join(F.broadcast(probes_t), "list_id")
    return scored
'''

_REPRO_BARRIERED = '''
def ivfpq_like(spark, sf_dir):
    coded = emb.select(
        "vec_id",
        F.expr(_pq_encode_sql(cb, ks)).alias("codes"),
    ).localCheckpoint(eager=False)
    scored = coded.join(F.broadcast(probes_t), "list_id")
    return scored
'''

_REPRO_ZIPWITH_TRAP = '''
def residual_like(spark, sf_dir):
    resid = emb.select(
        "vec_id",
        F.zip_with("embedding", "cent", lambda a, b: a - b).alias("r"),
    )
    out = resid.crossJoin(F.broadcast(panel))
    return out
'''

_REPRO_FOLDED_SCALAR = '''
def dot_like(spark, sf_dir):
    scored = emb.select(
        "vec_id",
        F.aggregate(
            F.zip_with("a", "b", lambda x, y: x * y), zero, add
        ).alias("dot"),
    )
    out = scored.crossJoin(F.broadcast(panel))
    return out
'''


# the primitive's call shape (functions/pq.py): a method builds the
# coded relation and returns it; the joins are in its callers, on a
# name that carries no marker, so the barrier must be in the builder
_REPRO_PQ_TRAP = '''
class PQ:
    def coded_index(self, frame, *keep):
        coded = frame.select(
            *keep, F.expr(self.encode_sql()).alias("codes")
        )
        return coded


def ivfpq_like(spark, sf_dir):
    coded = pq.coded_index(emb, "vec_id", "list_id")
    return coded.join(F.broadcast(probes_t), "list_id")
'''

_REPRO_PQ_BARRIERED = '''
class PQ:
    def coded_index(self, frame, *keep):
        coded = frame.select(
            *keep, F.expr(self.encode_sql()).alias("codes")
        ).localCheckpoint(eager=False)
        return coded


def ivfpq_like(spark, sf_dir):
    coded = pq.coded_index(emb, "vec_id", "list_id")
    return coded.join(F.broadcast(probes_t), "list_id")
'''


def test_derived_array_lint_red_on_synthetic_repro():
    """The lint must catch the exact shape that cost 13.4x (residual
    IVFPQ, round 8) and 3.2x (shared IVFPQ at 4.8M vectors, round 9)."""
    v, _ = _scan_derived({"repro.py": _REPRO_TRAP})
    assert len(v) == 1 and "coded" in v[0], v
    v, _ = _scan_derived({"repro.py": _REPRO_ZIPWITH_TRAP})
    assert len(v) == 1 and "resid" in v[0], v
    v, _ = _scan_derived({"repro.py": _REPRO_PQ_TRAP})
    assert len(v) == 1 and "coded_index" in v[0] and "returned" in v[0], v


def test_derived_array_lint_green_on_barrier_and_scalar_fold():
    v, _ = _scan_derived({"repro.py": _REPRO_BARRIERED})
    assert not v, v
    v, found = _scan_derived({"repro.py": _REPRO_PQ_BARRIERED})
    assert not v and found == {("repro.py", "coded_index", "coded")}, v
    # zip_with folded to a scalar by F.aggregate is NOT a derived
    # array column — must not be flagged
    v, found = _scan_derived({"repro.py": _REPRO_FOLDED_SCALAR})
    assert not v and not found, (v, found)


_REPRO_DISCARDED_CHECKPOINT = '''
def discarded_like(spark, sf_dir):
    coded = emb.select(
        "vec_id",
        F.expr(_pq_encode_sql(cb, ks)).alias("codes"),
    )
    coded.localCheckpoint(eager=False)
    scored = coded.join(F.broadcast(probes_t), "list_id")
    return scored
'''

_REPRO_COMPARISON_NOT_REBIND = '''
def comparison_like(spark, sf_dir):
    coded = emb.select(
        "vec_id",
        F.expr(_pq_encode_sql(cb, ks)).alias("codes"),
    )
    flag = coded == other
    out = helper(coded=1)
    scored = coded.join(F.broadcast(probes_t), "list_id")
    return scored
'''


def test_derived_array_lint_red_on_false_negative_shapes():
    """Round-10 ADVICE repros: a bare DISCARDED localCheckpoint() call
    barriers nothing (PySpark returns a new DataFrame), and `==` /
    kwarg lines are not re-binds — neither may end the scan before the
    real unbarriered join."""
    v, _ = _scan_derived({"repro.py": _REPRO_DISCARDED_CHECKPOINT})
    assert len(v) == 1 and "coded" in v[0], v
    v, _ = _scan_derived({"repro.py": _REPRO_COMPARISON_NOT_REBIND})
    assert len(v) == 1 and "coded" in v[0], v


def test_no_unbarriered_derived_array_joins():
    v, _ = _scan_derived()
    assert not v, (
        "derived ARRAY column consumed under a join without a "
        "localCheckpoint barrier — the construction re-evaluates per "
        "join-output row when the projection runs interpreted "
        "(measured 13.4x on ann_topk_ivfpq_residual r8, 3.2x on "
        "ann_topk_ivfpq at 4.8M vectors r9); checkpoint the relation "
        "or allowlist with a measured negative A/B:\n" + "\n".join(v)
    )


def _stale_derived(allow, sources=None):
    """The ``allow`` keys whose site is no unbarriered join or return."""
    hits, _ = _derived_hits(sources)
    needed = {k for k, _ in hits}
    return [k for k in allow if k not in needed]


def test_derived_array_allowlist_not_stale():
    stale = _stale_derived(DERIVED_ARRAY_ALLOW)
    assert not stale, (
        "DERIVED_ARRAY_ALLOW entries no longer cover an unbarriered "
        "derived-array join — the site was renamed, moved or "
        "barriered, or its join is gone; delete or re-key:\n"
        + "\n".join(str(k) for k in stale)
    )


def test_derived_array_allowance_is_stale_once_its_join_is_gone():
    """An allowance is only live while its site would be a violation:
    the same key is needed for the unbarriered join and stale once the
    barrier is in, though the assignment is still there."""
    key = ("repro.py", "ivfpq_like", "coded")
    assert _stale_derived({key: "r"}, {"repro.py": _REPRO_TRAP}) == []
    assert _stale_derived({key: "r"}, {"repro.py": _REPRO_BARRIERED}) == [key]
    _, found = _derived_hits({"repro.py": _REPRO_BARRIERED})
    assert key in found


# ---------------------------------------------------------------------------
# Interpreted-fold lint: a higher-order function (F.transform, F.aggregate,
# F.zip_with, F.filter, F.exists, F.forall, or a SQL `x -> ...` lambda in
# an F.expr / selectExpr string) is CodegenFallback in Spark 4.x — one
# boxed lambda call per element. The vector scorers, the centroid and
# codeword searches and the token kernels moved to numpy on Arrow batches
# (functions/pairscore.py, functions/tokens.py); every site still folding
# in Spark is listed here, so a new one is a test failure, and an entry
# whose site is gone fails as stale.
# ---------------------------------------------------------------------------

_FOLD_CALLS = {"transform", "aggregate", "zip_with", "filter", "exists", "forall"}

# (path-suffix, enclosing function): why the site still folds in Spark
FOLD_ALLOW = {
    ("functions/vectors.py", "dot_product"):
        "the probe-join cosine fold (ROADMAP item 3, step 2)",
    ("functions/vectors.py", "l2_norm"):
        "the probe-join row norms (ROADMAP item 3, step 2)",
    ("operators/clustering.py", "emb_pca_power"):
        "one projection per power iteration, against a literal vector",
    ("operators/curation.py", "doc_chunk"):
        "chunk slicing of the token array, no arithmetic fold",
    ("operators/dedup.py", "dedup_anchor_calibration"):
        "pre-normalised anchor vectors (ROADMAP item 3)",
    ("operators/dedup.py", "dot"):
        "pre-normalised dot of the anchor calibration",
    ("operators/quality.py", "dq_embeddings"):
        "per-row norm and NaN check of the embeddings audit",
    ("operators/similarity.py", "emb_quantize_sq8"):
        "int8 reconstruction of the second vector column",
    ("operators/text.py", "_count_in"):
        "stopword counts of the language-ID entries",
    ("operators/text.py", "text_cooccurrence"):
        "window pairs of the token array",
    ("operators/text.py", "text_fingerprint"):
        "token hashes of the fingerprint entry",
    ("operators/text.py", "text_quality_classifier"):
        "feature extraction over the token array",
    ("operators/text.py", "text_repetition"):
        "repeated-token counts over the token array",
    ("operators/text.py", "text_tokencount"):
        "token-length sum",
    ("plans/analytics_ext.py", "q_basket_affinity"):
        "item pairs of one basket array",
}


def _fold_sites(sources=None):
    """{(rel, func): sorted call names} of every interpreted fold in the
    package (or in ``sources``, {rel_path: src}); module level is func
    None."""
    if sources is None:
        sources = {}
        for root, _, files in os.walk(BASE):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    sources[os.path.relpath(p, BASE)] = open(p).read()
    sites = {}

    def visit(rel, node, func):
        for ch in ast.iter_child_nodes(node):
            inner = func
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = ch.name
            if isinstance(ch, ast.Call) and isinstance(ch.func, ast.Attribute):
                at = ch.func
                on_f = isinstance(at.value, ast.Name) and at.value.id == "F"
                sql = (on_f and at.attr == "expr") or at.attr == "selectExpr"
                if on_f and at.attr in _FOLD_CALLS:
                    sites.setdefault((rel, func), set()).add(at.attr)
                elif sql and any(
                    isinstance(n, ast.Constant)
                    and isinstance(n.value, str)
                    and "->" in n.value
                    for n in ast.walk(ch)
                ):
                    sites.setdefault((rel, func), set()).add(f"{at.attr} lambda")
            visit(rel, ch, inner)

    for rel, src in sources.items():
        visit(rel, ast.parse(src), None)
    return {k: sorted(v) for k, v in sites.items()}


_REPRO_FOLDS = """
def scorer(df):
    return df.select(F.aggregate(F.zip_with("a", "b", mul), zero, add))


def sql_scorer(df):
    return df.selectExpr(f"transform(xs, x -> x * {K})")


def clean(df):
    return df.select(F.expr("a + 1"), F.col("x")).filter(F.col("a") > 0)
"""


def test_fold_lint_finds_calls_and_sql_lambdas():
    sites = _fold_sites({"repro.py": _REPRO_FOLDS})
    assert sites == {
        ("repro.py", "scorer"): ["aggregate", "zip_with"],
        ("repro.py", "sql_scorer"): ["selectExpr lambda"],
    }, sites


def test_no_unlisted_interpreted_folds():
    new = {k: v for k, v in _fold_sites().items() if k not in FOLD_ALLOW}
    assert not new, (
        "interpreted higher-order function (CodegenFallback, one boxed "
        "lambda call per element) outside FOLD_ALLOW — score on Arrow "
        "batches in numpy (functions/pairscore.py, functions/tokens.py) "
        "or list the site with its reason:\n"
        + "\n".join(f"{k}: {v}" for k, v in sorted(new.items(), key=str))
    )


def test_fold_allowlist_not_stale():
    sites = _fold_sites()
    stale = [k for k in FOLD_ALLOW if k not in sites]
    assert not stale, (
        "FOLD_ALLOW entries whose fold is gone — delete them:\n"
        + "\n".join(map(str, stale))
    )
    # the searches and token kernels that moved to numpy stay there
    assert not [
        k
        for k in sites
        if k[0] in ("functions/centroids.py", "functions/pq.py")
        or k == ("operators/dedup.py", "_span_grams")
    ]
