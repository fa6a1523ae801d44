"""Plan auditing: programmatic assertions about physical plans.

`.explain()` is for eyeballs; these helpers make plan properties testable —
"the filter reached the scan", "this join broadcast", "no shuffle happened"
become assertions that fail a build instead of a code-review comment. Used
by tests/test_plans.py on the flagship queries.
"""

from __future__ import annotations

import contextlib
import io
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class PlanAudit:
    formatted: str
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    join_nodes: list[str] = field(default_factory=list)
    exchanges: int = 0
    has_wscg: bool = False

    def scans_only_columns(self, *cols: str) -> bool:
        """True if every parquet scan reads a subset of the given columns."""
        allowed = set(cols)
        for schema in self.read_schemas:
            read = set(re.findall(r"(\w+):", schema))
            if not read <= allowed:
                return False
        return True


def audit(df: DataFrame) -> PlanAudit:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
        df.explain()  # simple mode: WSCG stages appear as leading "*(n)"
    text = buf.getvalue()
    return PlanAudit(
        formatted=text,
        # greedy to line end: filter lists contain nested brackets (In(...))
        pushed_filters=re.findall(r"PushedFilters: \[(.*)\]", text),
        read_schemas=re.findall(r"ReadSchema: struct<(.*?)>", text),
        join_nodes=re.findall(r"\b(\w*Join\w*)\b", text),
        exchanges=len(re.findall(r"\bExchange\b", text)),
        has_wscg=bool(re.search(r"\*\(\d+\)", text)),
    )


def assert_broadcast_join(df: DataFrame) -> PlanAudit:
    a = audit(df)
    assert any("Broadcast" in j for j in a.join_nodes), (
        f"expected a broadcast join, got joins={a.join_nodes}\n{a.formatted[:2000]}"
    )
    return a


def assert_filters_pushed(df: DataFrame, *fragments: str) -> PlanAudit:
    a = audit(df)
    joined = ";".join(a.pushed_filters)
    for frag in fragments:
        assert frag in joined, (
            f"filter fragment {frag!r} not pushed; pushed={a.pushed_filters}"
        )
    return a


def _parse_tree(formatted: str) -> list[tuple[int, str, int]]:
    """Every tree section of the formatted explain — the main plan AND
    each scalar-subquery plan (``Subquery:N Hosting operator ...``) — as
    (depth, node_name, node_id) in preorder.  Depth comes from the
    3-char-per-level indentation Spark prints (``+- `` / ``:- `` /
    ``:  `` / three spaces).  Node ids are globally unique across the
    sections, and a subquery root restarts at depth 0, so parent/child
    adjacency checks never link across section boundaries.  Round 7:
    subquery trees were previously unparsed, which made every
    scalar-subquery Exchange/Aggregate invisible to scale_smells (TPC-H
    Q11/Q15/Q22's partial→final global aggs false-flagged as raw
    single-partition exchanges)."""
    lines = formatted.splitlines()
    starts = [
        i
        for i, ln in enumerate(lines)
        if "== Physical Plan ==" in ln or re.match(r"^Subquery:\d+ Hosting", ln)
    ]
    # the simple-mode explain audit() appends repeats "== Physical Plan =="
    # with id-less tree lines — those simply match nothing below
    out: list[tuple[int, str, int]] = []
    for start in starts:
        for ln in lines[start + 1:]:
            if not ln.strip():
                break
            m = re.match(r"^([ :+|-]*)\*?\s*(\w[\w]*)\b.*\((\d+)\)\s*$", ln)
            if m is None:
                continue
            out.append((len(m.group(1)) // 3, m.group(2), int(m.group(3))))
    return out


def _detail(formatted: str, node_id: int) -> str:
    """The per-node detail block for ``(node_id) Name``."""
    m = re.search(
        rf"^\({node_id}\) \w.*?\n(.*?)(?=^\(\d+\) |\Z)", formatted, re.S | re.M
    )
    return m.group(1) if m else ""


def _subtree(tree: list[tuple[int, str, int]], idx: int) -> list[tuple[int, str, int]]:
    d = tree[idx][0]
    out = [tree[idx]]
    for row in tree[idx + 1:]:
        if row[0] <= d:
            break
        out.append(row)
    return out


_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


# nodes that never INCREASE row count — walking down through them
# preserves any row bound found below (Filter/WindowGroupLimit reduce,
# the rest preserve exactly; Window adds columns, not rows)
_ROW_PRESERVING = (
    "BroadcastExchange", "ReusedExchange", "Exchange", "AQEShuffleRead",
    "Sort", "Project", "Filter", "WholeStageCodegen", "InputAdapter",
    "ColumnarToRow", "Window", "WindowGroupLimit",
)


def _split_top_level(s: str) -> list[str]:
    """Split on commas at paren depth 0 (expression lists nest freely)."""
    parts, cur, depth = [], [], 0
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


def _window_spec_unpartitioned(detail: str) -> bool:
    """True if any windowspecdefinition in a Window node's detail has an
    EMPTY partition list.  The Arguments line prints
    ``windowspecdefinition(part..., order... ASC NULLS FIRST,
    specifiedwindowframe(...))`` with empty sublists OMITTED, so bracket
    counting cannot distinguish "partitioned, unordered" from
    "unpartitioned, ordered" (round 7: q_agg_mad's percentile window is
    partitioned by l_returnflag with no ORDER BY and was false-flagged).
    Here the args are split top-level: the trailing frame arg is dropped,
    ORDER keys are recognized by their ASC/DESC NULLS suffix, and
    whatever remains is the partition list."""
    for m in re.finditer(r"windowspecdefinition\(", detail):
        depth, j = 1, m.end()
        while j < len(detail) and depth:
            if detail[j] == "(":
                depth += 1
            elif detail[j] == ")":
                depth -= 1
            j += 1
        args = _split_top_level(detail[m.end() : j - 1])
        args = [
            a
            for a in args
            if not a.startswith("specifiedwindowframe(")
            and not re.search(r"\b(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?\s*$", a)
        ]
        if not args:
            return True
    return False


_LIMIT_NODES = ("TakeOrderedAndProject", "CollectLimit", "GlobalLimit")


def _is_bounded_subtree(tree_part, formatted: str) -> bool:
    """True if the subtree provably produces O(1) rows AT ANY DATA SCALE:
    walking down through row-count-preserving wrappers, the first real
    operator is either a zero-grouping-key aggregate (``Keys: []`` — the
    global-scalar shape) or an explicit limit (TakeOrderedAndProject /
    GlobalLimit / CollectLimit — a plan-constant row bound).  Round 7
    widened this from scalar-agg-only: a Window or BNLJ build fed by a
    global top-N is N rows by plan structure, the same boundedness
    guarantee (q_profile's modal-value limit-1 relations, q_text_bm25's
    rank window over its own top-50)."""
    for depth, name, nid in tree_part:
        if name in _AGG_NODES and "Keys: []" in _detail(formatted, nid):
            return True
        if name in _LIMIT_NODES:
            return True
        if name not in _ROW_PRESERVING:
            return False
    return False


# back-compat alias (tests/test_plans.py exercises the scalar case)
_is_scalar_subtree = _is_bounded_subtree


# Query-inventory findings scale_smells is EXPECTED to report — each entry
# maps a registered query name to {smell prefix -> justification}.  Every
# justification must argue the flagged relation is BOUNDED (control-plane-
# sized) BY CONSTRUCTION — "small at test scale" does not qualify.  Both
# tools/lint_plans.py (the PLANLINT.md artifact) and the full-registry
# sweep in tests/test_oracle_parity.py consume this map; an unaccepted
# finding fails both.
ACCEPTED_SMELLS: dict[str, dict[str, str]] = {
    # Every cartesian entry below is a BNLJ whose build side is bounded by
    # construction but not plan-provable (a literal-predicate slice or a
    # categorical-domain aggregate — the detector only proves scalar aggs
    # and explicit limits).
    "q_join_cross": {
        "cartesian": "deliberate guarded demo: both inputs are hard-"
        "limited slices (5 regions x 25 nations) and the query exists to "
        "exhibit the guard (queries/joins.py) — the product is <=125 rows",
    },
    "q_join_fuzzy": {
        "cartesian": "build side is a <=5-row literal-key slice "
        "(n_nationkey < 5) of the 25-row nation dim; edit-distance "
        "predicates are non-equi by nature — the documented scale path "
        "blocks on length/prefix before any pairwise Levenshtein",
    },
    "q_join_interval": {
        "cartesian": "build side is one row per calendar MONTH of the "
        "data's date span (distinct month-start aggregate) — bounded by "
        "elapsed time, not by row count; the banded variant "
        "(q_join_range_banded) is the corpus x corpus shape",
    },
    "q_sim_topk": {
        "cartesian": "the brute-force ANN baseline by design: the build "
        "side is the fixed query-vector set (vec_id < 5, broadcast); "
        "|corpus| x |queries| with constant queries is row-linear — the "
        "corpus-scale paths are q_sim_ann/q_sim_ivf/q_sim_pq",
    },
    "q_eval_auc": {
        "corpus-window": "the rank window runs over the distinct-"
        "probability relation, and prob_fp is hard-CLAMPED to [0, 1e6] "
        "by score_quality_lr — a value-domain bound independent of "
        "corpus size (the q_stump histogram argument); the corpus pays "
        "one map-side-combined groupBy(prob_fp)",
        "single-partition-exchange": "same bounded distinct-probability "
        "relation feeding the window and the final 1-row statistic",
    },
    "q_knn_classify": {
        "cartesian": "the q_sim_topk shape: build side is the fixed "
        "query set (vec_id < 25, broadcast); |corpus| x |queries| with "
        "constant queries is row-linear — at corpus scale the neighbor "
        "search swaps to the exactness-gated IVF/LSH paths",
    },
    "q_als_recommend": {
        "cartesian": "recommendation serving by design: the build side "
        "is the 40-item factor table (item = o_orderkey % 40, bounded by "
        "construction) broadcast against the <=20 queried users' factors "
        "— the product is catalog x queried-users, control-plane sized; "
        "the only corpus-sized input is the seen-pairs anti-join",
    },
    "q_rank_fusion": {
        "cartesian": "same fixed query-vector build side as q_sim_topk "
        "inside the dense-retrieval leg; the fusion join itself is "
        "top-k x top-k (control-plane-sized)",
    },
    "q_filter_funnel": {
        "corpus-window": "the cumulative-evaluation window runs over the "
        "RULES relation — one row per funnel rule (5 here), fixed by the "
        "pipeline author, never per document; the corpus pays one narrow "
        "CASE-cascade pass and one low-cardinality groupBy",
        "single-partition-exchange": "same rules-side report relation — "
        "per-rule attrition counts are control-plane output by "
        "definition",
    },
    "q_mix_weights": {
        "corpus-window": "runs over one row per corpus DOMAIN (the "
        "categorical mixture components), never per document",
        "single-partition-exchange": "same domain-level relation — "
        "mixture weights are control-plane output by definition",
    },
    "q_mix_apply": {
        "corpus-window": "inherits q_mix_weights' weight computation: "
        "the empty-partition window normalizes one row per corpus "
        "DOMAIN; the corpus itself only pays a broadcast-joined filter",
        "single-partition-exchange": "same domain-level weight/budget "
        "relation — the rates table is control-plane-sized by "
        "definition",
    },
    "q_nb_classify": {
        "cartesian": "the build side is the CLASS-LABEL domain (distinct "
        "over the categorical label column — a constant-k set fixed by "
        "the labeling scheme, never per-document); docs x k is the dense "
        "posterior grid every NB scorer must produce, linear in the "
        "corpus with constant fan-out (queries/ml_queries.py)",
        "corpus-window": "the two empty-partition windows run over (a) "
        "the vocabulary AFTER limit(vocab_k) — <= 200 rows by "
        "construction — and (b) the per-class doc-count relation (<= "
        "|classes| rows, the categorical label domain); both replaced a "
        "second aggregate + broadcast join of the same bounded relation "
        "(round 14, ml.nb_train_score), never a per-document window",
        "single-partition-exchange": "same two bounded relations "
        "(vocab_k-capped vocabulary, class-domain prior table) — "
        "control-plane by definition",
    },
    "q_stump": {
        "corpus-window": "the prefix-sum window runs over the feature's "
        "VALUE-DOMAIN histogram (one row per distinct quantity, <= 50 "
        "by the TPC-H domain; binned features bound it by construction "
        "at any corpus size), never per row — the corpus pays one "
        "map-side-combined groupBy (ml.decision_stump)",
        "single-partition-exchange": "same histogram relation feeding "
        "the argmin orderBy+limit — split candidates are control-plane "
        "output by definition",
    },
    # q_tree_depth2 / q_boost_tree2 / q_forest_vote acceptances RETIRED
    # (round 14): the driver-side histogram rewrite removed the crossJoin
    # ride-alongs, prefix-sum windows and single-partition argmin
    # exchanges from their plans outright.
    "q_eval_ndcg": {
        "cartesian": "the q_sim_topk shape: build side is the fixed "
        "query set (vec_id < 20, broadcast) of the brute-force ranking "
        "being evaluated; |corpus| x |queries| with constant queries is "
        "row-linear, and everything after the top-10 cut is 200 rows",
    },
    "q_sim_recall": {
        "cartesian": "the q_eval_ndcg shape: the brute-force ranking the "
        "recall is measured against broadcasts the fixed query set "
        "(vec_id < 20); |corpus| x |queries| with constant queries is "
        "row-linear, and the recall joins run at top-k grain",
    },
    "q_domain_kl": {
        "cartesian": "the deliberate (domain × mapped-vocab) KL grid: "
        "build side is the per-symbol corpus-count relation (≤ vocab_k "
        "+ 1 rows, bounded by the top-K cut at any corpus size), probe "
        "side the per-domain totals (one row per source — a fixed "
        "taxonomy, never per-document); absent-in-domain vocabulary "
        "must still contribute add-one mass, so the full grid IS the "
        "operator (llm/text.py domain_kl)",
    },
    "q_dedup_triangles": {
        "cartesian": "two ONE-ROW broadcast ride-alongs: the triangle "
        "total joined with the Σ C(deg,2) wedge total, and that 1-row "
        "totals relation repeated onto the per-node counts for hash "
        "checking (graph.triangles) — the q_stump tot-broadcast shape, "
        "never a data-sized build side",
    },
    "q_join_dpp": {
        "corpus-window": "the rarest-status pick ranks one row per "
        "o_orderstatus value (a 3-value categorical domain)",
        "single-partition-exchange": "same per-status relation feeding "
        "the dynamic-pruning subquery",
    },
}


def unaccepted_smells(name: str, df: DataFrame) -> list[str]:
    """scale_smells findings for a registered query MINUS the justified
    ACCEPTED_SMELLS entries — the machine form of "no scale-killer in
    any plan": empty for every query or the sweep fails.

    Each justification absorbs exactly ONE finding of its class
    (advisor r7: a blanket prefix-suppression would let an accepted
    'cartesian' entry swallow a FUTURE second cartesian-class finding
    on the same query), and the conservative 'unparseable children'
    finding — which signals explain-format drift, not a reviewed plan
    shape — is never absorbable."""
    acc = ACCEPTED_SMELLS.get(name, {})
    remaining = dict.fromkeys(acc, 1)
    out: list[str] = []
    for s in scale_smells(df):
        k = next((k for k in acc if s.startswith(k)), None)
        if k is not None and remaining[k] > 0 and "unparseable" not in s:
            remaining[k] -= 1
        else:
            out.append(s)
    return out


def scale_smells(df: DataFrame) -> list[str]:
    """Lint a plan for the anti-patterns that are invisible at test scale
    and fatal at 100 TB — the checklist tests/test_plans.py asserts
    query-by-query, packaged as a reusable pre-flight: run it on any
    DataFrame before pointing the plan at a big cluster.

    Returns a list of human-readable findings (empty = no smells):

    - ``cartesian``: CartesianProduct, or BroadcastNestedLoopJoin whose
      BUILD side is not provably O(1) rows — pair work grows as
      |A|×|B|; usually a missing/non-equi join condition.  A BNLJ
      against a broadcast SCALAR (the ``crossJoin(broadcast(global
      agg))`` pattern this codebase uses to attach corpus totals) is
      |A|×1 — row-linear, not flagged.
    - ``corpus-window``: a Window whose partition spec is empty — every
      row flows through ONE task no matter how many executors exist
      (the q_win_corr bucket-carry decomposition exists because of this).
    - ``single-partition-exchange``: Exchange SinglePartition whose
      child is NOT a partial global aggregate — a corpus-wide
      serialization point.  The partial→final global-agg shape
      (HashAggregate ``Keys: []`` partials under the exchange) moves one
      row per upstream partition, bounded by the cluster not the data,
      and is not flagged.

    A finding is a WARNING, not an error: a single-partition window over
    a provably tiny relation (e.g. rrf_fuse's union of top-N lists) is
    legitimate — the caller, who knows the cardinality, decides.  The
    value is that the decision becomes explicit instead of discovered in
    a 3-task stage on the cluster."""
    a = audit(df)
    text = a.formatted
    tree = _parse_tree(text)
    by_id = {nid: i for i, (_, _, nid) in enumerate(tree)}
    smells: list[str] = []

    if re.search(r"\bCartesianProduct\b", text):
        smells.append(
            "cartesian: CartesianProduct in plan — |A|x|B| pair work; "
            "check the join condition is an equi-join"
        )
    for i, (depth, name, nid) in enumerate(tree):
        if name != "BroadcastNestedLoopJoin":
            continue
        sub = _subtree(tree, i)  # bound the scan: never cross into a
        # sibling branch or a later subquery section's tree
        kids = [j for j, row in enumerate(tree[i + 1 : i + len(sub)], i + 1)
                if row[0] == depth + 1][:2]
        # build side from the tree line's BuildLeft/BuildRight marker
        line = re.search(rf"^.*BroadcastNestedLoopJoin\b.*\({nid}\)\s*$",
                         text, re.M)
        build_right = "BuildLeft" not in (line.group(0) if line else "")
        if not kids:
            # explain-format drift left the children unparsed (advisor
            # r6): emit the smell conservatively instead of crashing —
            # a BNLJ we cannot prove scalar-build is reported as one
            smells.append(
                "cartesian: BroadcastNestedLoopJoin with unparseable "
                "children — assuming non-scalar build side; |A|x|B| "
                "pair work; check the join condition is an equi-join"
            )
            break
        build_idx = kids[1] if (build_right and len(kids) > 1) else kids[0]
        if not _is_scalar_subtree(_subtree(tree, build_idx), text):
            smells.append(
                "cartesian: BroadcastNestedLoopJoin with a non-scalar "
                "build side — |A|x|B| pair work; check the join "
                "condition is an equi-join"
            )
            break

    # a Window with an empty PARTITION BY funnels every row through one
    # task — detected from the windowspecdefinition args, the only place
    # the formatted explain states the partition list unambiguously.
    # Exemption: a window whose input is provably bounded (global top-N /
    # scalar agg below it) is single-task over O(1) rows — fine.
    for m in re.finditer(r"^\((\d+)\) Window\b", text, re.M):
        nid = int(m.group(1))
        if not _window_spec_unpartitioned(_detail(text, nid)):
            continue
        i = by_id.get(nid)
        if (
            i is not None
            and i + 1 < len(tree)
            and _is_bounded_subtree(_subtree(tree, i + 1), text)
        ):
            continue
        smells.append(
            "corpus-window: Window with empty PARTITION BY — "
            "single-task evaluation at any cluster size"
        )
        break

    n_single = 0
    for m in re.finditer(r"^\((\d+)\) Exchange\b", text, re.M):
        nid = int(m.group(1))
        if "SinglePartition" not in _detail(text, nid):
            continue
        i = by_id.get(nid)
        if (
            i is not None
            and i + 1 < len(tree)
            and _is_scalar_subtree(_subtree(tree, i + 1), text)
        ):
            continue  # partial→final global agg: one row per partition
        n_single += 1
    if n_single:
        smells.append(
            f"single-partition-exchange: {n_single} Exchange(SinglePartition) "
            "node(s) — corpus serializes through one task; fine only for "
            "provably small relations"
        )
    return smells
