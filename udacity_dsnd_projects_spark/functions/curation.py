"""End-to-end corpus curation (SURVEY.md §7 phase 4 capstone): the
training-data pipeline the individual operators exist for, composed as
ONE declarative plan —

    ingest (with planted duplicates)
      → quality filter        (length / punctuation / digit heuristics)
      → exact dedup           (content-hash groupBy, min doc_id wins)
      → near-dup dedup        (MinHash-LSH candidate pairs → connected
                               components over the pair graph → keep
                               the min-doc_id representative of each
                               component, so duplicate CHAINS A≈B≈C
                               collapse to exactly one survivor)
      → corpus rollup         (per-language counts + token stats)

Everything is deterministic modular arithmetic, so the WHOLE pipeline —
five stages deep — is oracle-checked row-for-row against DuckDB (the
component step as a recursive CTE).

Scale shape: two shuffles for dedup (content hash; LSH band buckets),
a min-label-propagation loop over the PAIR GRAPH ONLY (orders of
magnitude smaller than the corpus — the loop's joins never touch
document text, and each iteration is checkpointed so lineage stays
flat), one broadcast anti-join of the drop-list, one final rollup.
No Python in the data path, no collect of data rows.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.functions.dedup import (
    PLANTED_DUP_MOD,
    PLANTED_ID_OFFSET,
    _ORACLE_PLANTED,
    _docs_with_planted_dups,
    _oracle_lsh_pairs,
    lsh_pairs_for,
)
from udacity_dsnd_projects_spark.sources.catalog import load_table

#: Quality gates (web-corpus heuristics, same spirit as text.quality_score).
MIN_TOKENS = 10
MAX_PUNCT_RATIO = 0.1
MAX_DIGIT_RATIO = 0.1


def _quality_filter(docs: DataFrame) -> DataFrame:
    n_tok = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    n_chars = F.length("text")
    punct = F.regexp_count(F.col("text"), F.lit(r"[^a-zA-Z0-9\s]"))
    digit = F.regexp_count(F.col("text"), F.lit(r"[0-9]"))
    return docs.filter(
        (n_tok >= MIN_TOKENS)
        & (punct / n_chars < MAX_PUNCT_RATIO)
        & (digit / n_chars < MAX_DIGIT_RATIO)
    )


#: Min-label propagation iteration cap. With the pointer-doubling
#: shortcut each round, convergence takes O(log2 diameter) rounds, so
#: 20 covers diameters up to ~2^20 — effectively unreachable for any
#: real pair graph. Hitting the cap unconverged raises rather than
#: returning silently-wrong labels (they would diverge from the
#: recursive-CTE oracle and leave >1 survivor per component).
MAX_CC_ITERS = 20

#: Edge rows per shuffle partition inside the CC loop — the loop
#: re-partitions every round on node- and edge-sized frames, so its
#: partition count must track graph volume, not the session's batch
#: default (see _connected_components_loop). ~4M rows ≈ 64 MB at
#: 16 B/row, inside the guide's 100 MB-1 GB per-partition band.
CC_ROWS_PER_PARTITION = 4_000_000

#: Reentrancy bookkeeping for connected_components' scoped conf
#: overrides (constraint-propagation disable AND the loop's
#: volume-sized shuffle partitions): {id(session): (depth,
#: {conf: prev_value})}. Guarded by a lock so overlapping calls on one
#: session restore the TRUE pre-entry values exactly once (outermost
#: exit), never a temporary value we set ourselves — without the
#: guard, two overlapping loops could capture each other's scratch
#: value and leave the session permanently at the tiny loop partition
#: count (ADVICE r15).
_CC_CONF_LOCK = threading.Lock()
_CC_CONF_DEPTH: dict[int, tuple[int, dict[str, str | None]]] = {}
_CC_SCOPED_CONFS = (
    "spark.sql.constraintPropagation.enabled",
    "spark.sql.shuffle.partitions",
)


def connected_components(pairs: DataFrame) -> DataFrame:
    """(doc_id, component) labels over the near-dup pair graph:
    min-doc_id label propagation with pointer-doubling shortcuts
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    see :func:`near_dup_drop_list` for the scale rationale. Only nodes
    that appear in some pair are labeled (isolated docs are their own
    trivial component and are omitted, keeping the frame pair-sized).

    Each round does (1) neighbor propagation: take the min label over
    each node's neighborhood, then (2) shortcutting: replace every
    label with its OWN current label (labels are node ids, so one
    self-join follows the pointer one hop). Step 2 squares the
    propagation distance per round — a path graph of diameter D
    converges in O(log2 D) rounds instead of D.

    Constraint propagation is disabled for the loop's plans (restored
    on exit): when ``pairs`` carries an order constraint such as
    ``doc_a < doc_b`` (any pair frame built through an explicit
    ``a < b`` filter does, e.g. ``winnowing_pairs_for``), Spark's
    constraint rewrite through the symmetric edge union fails inside
    ``localCheckpoint`` with ``NoSuchElementException: key not found``
    (LogicalRDD.rewriteStatsAndConstraints mapping a child constraint
    over an attribute the union pruned — reproduced minimally on a
    two-row frame). The loop joins on ids only, so constraints buy
    its plans nothing; results are unaffected.

    Both scoped conf overrides — this toggle and the loop's
    volume-sized ``spark.sql.shuffle.partitions`` — are
    REENTRANCY-GUARDED in one scope: a per-session depth counter means
    only the OUTERMOST call captures and restores the previous values,
    so nested or overlapping calls on one session (e.g. two curation
    faces composed in one plan, or threads sharing the driver's
    session) can never capture a temporary value we set ourselves and
    leave the session at 'false'/the tiny loop partition count after
    exit (ADVICE r15)."""
    sess = pairs.sparkSession
    _CP = "spark.sql.constraintPropagation.enabled"
    with _CC_CONF_LOCK:
        depth, prev = _CC_CONF_DEPTH.get(id(sess), (0, {}))
        if depth == 0:
            prev = {c: sess.conf.get(c) for c in _CC_SCOPED_CONFS}
            sess.conf.set(_CP, "false")
        _CC_CONF_DEPTH[id(sess)] = (depth + 1, prev)
    try:
        return _connected_components_loop(pairs)
    finally:
        with _CC_CONF_LOCK:
            depth, prev = _CC_CONF_DEPTH[id(sess)]
            if depth == 1:
                for c, v in prev.items():
                    sess.conf.set(c, v)
                del _CC_CONF_DEPTH[id(sess)]
            else:
                _CC_CONF_DEPTH[id(sess)] = (depth - 1, prev)


def _connected_components_loop(pairs: DataFrame) -> DataFrame:
    from pyspark.sql import Observation

    obs = Observation()
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionByName(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .localCheckpoint(eager=True)
    )
    # Size the loop's shuffle partitions to GRAPH VOLUME, not the
    # session's batch default: every per-round exchange carries at most
    # edge-sized frames, so the batch-tuned partition count just
    # multiplies per-round scheduler and commit overhead across
    # O(log diameter) rounds. The edge count rides the checkpoint job
    # as an observe() metric, so sizing costs no action (1 partition
    # per CC_ROWS_PER_PARTITION edge rows: one for the test corpora,
    # thousands for a billion-edge graph). Same-window A/B on the sf 0.1
    # winnowing match graph (1086 nodes, 12 rounds, 32-core host): 32
    # partitions 5.5-7.7 s, sized 4.1-4.7 s, identical labels. This set
    # is scratch inside connected_components' depth-guarded conf scope,
    # which restores the pre-entry value.
    loop_parts = max(1, -(-obs.get["rows"] // CC_ROWS_PER_PARTITION))
    pairs.sparkSession.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    # identity labels stay a PLAN, evaluated inside the first fused action
    labels = edges.selectExpr("src AS id").distinct().selectExpr("id", "id AS lbl")
    return _cc_iterate(edges, labels)


def _cc_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One propagation + pointer-doubling round as a PLAN (no action):
    take the min label over each node's neighborhood, then shortcut
    lbl <- min(lbl, labels[lbl]). A label is always a node id present
    in the propagated frame, but left+coalesce keeps the step total
    even mid-convergence. (r15 note: applying the shortcut TWICE per
    round was tried and measured — round count IDENTICAL at 12 on the
    sf 0.1 winnowing match graph, because the pointer jumps to the
    ball's MINIMUM node, not its frontier, so shortcuts don't compose
    multiplicatively within a round; reach per round is bounded at ~2×
    for this whole algorithm family. The lever is per-round cost, not
    rounds.)"""
    nbr = edges.join(labels, edges["src"] == labels["id"]).select(
        F.col("dst").alias("id"), F.col("lbl")
    )
    prop = labels.unionByName(nbr).groupBy("id").agg(F.min("lbl").alias("lbl"))
    return (
        prop.alias("a")
        .join(prop.alias("b"), F.col("a.lbl") == F.col("b.id"), "left")
        .select(
            F.col("a.id").alias("id"),
            F.least(
                F.col("a.lbl"), F.coalesce(F.col("b.lbl"), F.col("a.lbl"))
            ).alias("lbl"),
        )
    )


#: Rounds composed into ONE plan per driver action. The loop's frames
#: are node-sized, so its wall-clock is per-ACTION fixed overhead
#: (localCheckpoint job + obs round trip + AQE stage scheduling,
#: ~0.5-0.8 s each on a 4-core host) times the action count, and
#: composing two rounds per materialization halves the actions. 2, not
#: more: each composed round multiplies plan depth (the pointer-double
#: references its propagation subtree twice, so re-evaluation inside
#: one plan grows geometrically; ReuseExchange dedups the exchanges
#: but not the aggregates above them).
CC_ROUNDS_PER_ACTION = 2


def _cc_iterate(edges: DataFrame, labels: DataFrame) -> DataFrame:
    from pyspark.sql import Observation

    # ONE fused plan + ONE action per CC_ROUNDS_PER_ACTION rounds: the
    # propagation aggregates, the pointer-doubling self-joins, and the
    # convergence probe all materialize in the same localCheckpoint
    # job, with the changed-count riding the plan as an observe()
    # metric. The probe compares the action's LAST round with the round
    # before it (both in the plan): a round that changes nothing IS the
    # fixpoint, so a graph converging inside an action stops on that
    # action, and the budget is exactly MAX_CC_ITERS rounds. Labels only
    # ever decrease, so "no decrease" means "unchanged".
    for done in range(0, MAX_CC_ITERS, CC_ROUNDS_PER_ACTION):
        for _ in range(min(CC_ROUNDS_PER_ACTION, MAX_CC_ITERS - done) - 1):
            labels = _cc_round(edges, labels)
        obs = Observation()
        labels = (
            _cc_round(edges, labels)
            .join(labels.withColumnRenamed("lbl", "prev"), "id")
            .observe(obs, F.count_if(F.col("lbl") < F.col("prev")).alias("changed"))
            .select("id", "lbl")
            .localCheckpoint(eager=True)
        )
        if not obs.get["changed"]:
            return labels.selectExpr("id AS doc_id", "lbl AS component")
    raise RuntimeError(
        f"connected_components: no fixed point in {MAX_CC_ITERS} rounds "
        "(pair graph diameter > 2^20 — check the input for pathology)"
    )


def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face: connected components over the corpus's
    MinHash-LSH near-dup pairs — the duplicate-cluster map a dedup
    pipeline reports before choosing representatives."""
    return connected_components(
        lsh_pairs_for(load_table(spark, "documents", sf_dir).select("doc_id", "text"))
    )


ORACLE_NEAR_DUP_COMPONENTS = f"""
WITH RECURSIVE lsh AS ({_oracle_lsh_pairs("documents")}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM lsh
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM lsh
),
walk(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
)
SELECT node AS doc_id, MIN(lbl) AS component FROM walk GROUP BY node
"""


def near_dup_drop_list(pairs: DataFrame) -> DataFrame:
    """Connected components over the near-dup pair graph by min-label
    propagation to a fixed point; returns the doc_ids to DROP (every
    node whose component representative — the component's min doc_id —
    is not itself). A duplicate chain A≈B≈C is one component and keeps
    exactly A; the one-sweep drop-doc_b policy this replaces both
    under-deleted stars (kept 2 of {1≈3, 2≈3}) and couldn't converge
    on chains.

    Scale: the loop runs over the PAIR GRAPH only — ids, never text or
    signatures. Each iteration is one join + one groupBy of that tiny
    frame, eagerly checkpointed so the plan doesn't deepen and the
    upstream LSH subtree is computed exactly once. The convergence
    probe is an observe() metric on label changes inside the
    checkpoint job — no extra action, no collect of data."""
    comp = connected_components(pairs)
    return comp.filter(F.col("component") != F.col("doc_id")).select("doc_id")


def curate(docs: DataFrame) -> DataFrame:
    """Run the full curation over a (doc_id, text, lang, ...) frame and
    return the surviving documents."""
    clean = _quality_filter(docs)
    # exact dedup: canonical = min doc_id per content hash
    canonical = clean.groupBy(
        F.md5(F.col("text").cast("binary")).alias("h")
    ).agg(F.min("doc_id").alias("doc_id"))
    # The exact-dedup survivor set is the stage output BOTH downstream
    # consumers read (the LSH pair substrate and the final anti-join),
    # and each read re-evaluates the regex-heavy quality filter plus
    # the md5-canonical groupBy subtree — ~5 evaluations of the filter
    # chain in the unmaterialized plan. Checkpointed once instead
    # (lazily — the first CC-loop action materializes it): on a
    # cluster this is the curation stage persisting its survivor
    # corpus before the near-dup screen, standard pipeline practice.
    exact = clean.join(canonical.select("doc_id"), "doc_id", "semi").localCheckpoint(
        eager=False
    )
    # near-dup dedup: keep one representative per connected component
    drop = near_dup_drop_list(lsh_pairs_for(exact))
    return exact.join(drop, "doc_id", "anti")


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered query face: curate documents ∪ planted duplicates
    and roll up the surviving corpus per language."""
    survivors = curate(_docs_with_planted_dups_with_lang(spark, sf_dir))
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return survivors.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).alias("total_tokens"),
        F.round(F.avg(F.size(toks)), 4).alias("avg_tokens"),
    )


def _docs_with_planted_dups_with_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Like dedup._docs_with_planted_dups but keeps the lang column for
    the final rollup."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text", "lang")
    copies = docs.filter(F.col("doc_id") % PLANTED_DUP_MOD == 0).select(
        (F.col("doc_id") + PLANTED_ID_OFFSET).alias("doc_id"), "text", "lang"
    )
    return docs.unionByName(copies)


_ORACLE_PLANTED_LANG = f"""
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + {PLANTED_ID_OFFSET} AS doc_id, text, lang FROM documents
  WHERE doc_id % {PLANTED_DUP_MOD} = 0
"""

_ORACLE_QUALITY = rf"""
  SELECT doc_id, text, lang FROM planted
  WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= {MIN_TOKENS}
    AND len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0 / length(text)
        < {MAX_PUNCT_RATIO}
    AND len(regexp_extract_all(text, '[0-9]')) * 1.0 / length(text)
        < {MAX_DIGIT_RATIO}
"""

ORACLE_CORPUS_CURATION = rf"""
WITH RECURSIVE planted AS ({_ORACLE_PLANTED_LANG}),
clean AS ({_ORACLE_QUALITY}),
canonical AS (
  SELECT MIN(doc_id) AS doc_id FROM clean GROUP BY md5(text)
),
exact AS (
  SELECT c.* FROM clean c JOIN canonical k ON c.doc_id = k.doc_id
),
lsh AS ({_oracle_lsh_pairs("exact")}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM lsh
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM lsh
),
walk(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
),
comp AS (SELECT node, MIN(lbl) AS lbl FROM walk GROUP BY node),
drop_ids AS (SELECT node AS doc_id FROM comp WHERE lbl <> node),
survivors AS (
  SELECT e.* FROM exact e ANTI JOIN drop_ids d ON e.doc_id = d.doc_id
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_split_to_array(lower(trim(text)), '\s+')))
            AS BIGINT) AS total_tokens,
       ROUND(AVG(len(regexp_split_to_array(lower(trim(text)), '\s+'))), 4)
         AS avg_tokens
FROM survivors GROUP BY lang
"""


# --------------------------------------------------------------------------
# Blended quality gate
# --------------------------------------------------------------------------
#: Keep the top KEEP_PCT fraction per language by blended score.
QUALITY_KEEP_PCT = 0.5


def quality_topk_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-blended curation gate: rank documents within each
    language by a blend of quality signals (length, and an entropy
    proxy: distinct-token ratio), keep the top half. Real curation
    stacks blend many signals exactly this way — percent_rank makes
    heterogeneous signals commensurable, the per-stratum cut keeps
    every language represented (a global cut would drop whole
    low-resource languages).

    NOT implemented with ``lang``-partitioned windows: a handful of
    language strata would funnel the whole corpus through a handful of
    sort tasks, three times. Each of the three rankings (length, TTR,
    blend) instead uses
    :func:`~udacity_dsnd_projects_spark.operators.ranks.exact_multi_rank`
    — approxQuantile range buckets → strata × buckets parallel window
    partitions → broadcast offsets — which reproduces
    ``percent_rank``/``row_number`` bit-for-bit (doc_id tie-breaks make
    every order total, so rank == row_number) while staying parallel at
    any corpus size.

    Each ranking pass reads its input three times (quantile sketch,
    bucket counts, final join), so the tokenization stats and the
    blended scores are eagerly checkpointed — one materialization each
    instead of ~9 recomputations of the split/array_distinct chain (on
    a cluster this is persist-to-storage; locally ``localCheckpoint``,
    measured ~30% faster at sf0.1). The length and TTR passes share
    the first materialization through the FUSED primitive (one sketch
    scan, one grouping-sets count scan, two windows in one plan); only
    the blend pass — which depends on both — ranks separately."""
    from udacity_dsnd_projects_spark.operators.ranks import (
        checkpoint_with_sketch,
        exact_group_rank,
        exact_multi_rank,
    )

    docs = load_table(spark, "documents", sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # the quantile sketches ride the checkpoint's materialization job
    # as observe() metrics (checkpoint_with_sketch) instead of a
    # separate sketch pass per ranking — guide §1.2, round-16 driver-
    # residual work
    d, bnds = checkpoint_with_sketch(
        docs.select(
            "doc_id",
            "lang",
            F.size(toks).alias("n_tok"),
            (F.size(F.array_distinct(toks)) / F.size(toks)).alias("ttr"),
        ).filter(F.col("n_tok") >= 1),
        ["n_tok", "ttr"],
    )
    # both rank passes fused over the single materialization (one
    # grouping-sets count scan + two windows in one plan) — the former
    # chained exact_group_rank calls re-executed pass 1's window ~3x
    # inside pass 2's scans
    r2 = exact_multi_rank(
        d,
        [("n_tok", False, "rk_len"), ("ttr", False, "rk_ttr")],
        ["doc_id"],
        group_cols=["lang"],
        count_col="n_lang",
        bounds=bnds,
    )
    # percent_rank = (rank - 1) / (n - 1); 0.0 for single-row strata
    denom = F.col("n_lang") - 1
    pr = lambda rk: F.when(  # noqa: E731
        denom > 0, (F.col(rk) - 1) / denom
    ).otherwise(F.lit(0.0))
    scored, bnds3 = checkpoint_with_sketch(
        r2.select(
            "doc_id",
            "lang",
            "n_lang",
            F.round((pr("rk_len") + pr("rk_ttr")) / 2, 6).alias("blend"),
        ),
        ["blend"],
    )
    r3 = exact_group_rank(
        scored,
        ["lang"],
        "blend",
        ["doc_id"],
        descending=True,
        rank_col="rk_blend",
        bounds=bnds3["blend"],
    )
    return r3.filter(
        F.col("rk_blend") <= F.ceil(F.col("n_lang") * QUALITY_KEEP_PCT)
    ).select("doc_id", "lang", "blend")


ORACLE_QUALITY_TOPK_FILTER = rf"""
WITH d AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tok,
         len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')))
           * 1.0 / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS ttr
  FROM documents
  WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 1
), scored AS (
  SELECT doc_id, lang,
         ROUND((percent_rank() OVER (PARTITION BY lang ORDER BY n_tok, doc_id)
              + percent_rank() OVER (PARTITION BY lang ORDER BY ttr, doc_id))
              / 2, 6) AS blend
  FROM d
), ranked AS (
  SELECT doc_id, lang, blend,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY blend DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM scored
)
SELECT doc_id, lang, blend FROM ranked
WHERE rk <= CEIL(n_lang * {QUALITY_KEEP_PCT})
"""


# --------------------------------------------------------------------------
# Quality-aware duplicate-cluster representative (round-5 addition)
# --------------------------------------------------------------------------
def dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick the BEST member of each near-dup cluster instead of the
    arbitrary min-id one: join the connected-component labels with the
    composite quality score and keep the highest-quality doc per
    component (ties broken to the smaller doc_id) — the curation
    policy real pipelines use, where a near-dup cluster should retain
    its cleanest copy, not its oldest. One row per component:
    (component, n_members, keep_doc_id, keep_quality).

    Scale shape: the component frame is pair-graph-sized (near-dup
    docs only, orders of magnitude under the corpus), so it broadcasts
    onto the documents scan and the regex-heavy quality score
    evaluates ONLY on member rows (the winnowing_strip member-scoring
    shape — identical values, non-members dropped before the scoring
    expressions run, no text through any exchange); the argmax is a
    single map-side-combined ``max(struct(quality, -doc_id))`` groupBy
    on the component label — no window, no collect."""
    from udacity_dsnd_projects_spark.functions.text import quality_score_expr

    comp = near_dup_components(spark, sf_dir)
    j = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .join(F.broadcast(comp), "doc_id")
        .select(
            "component",
            "doc_id",
            quality_score_expr(F.col("text")).alias("quality"),
        )
    )
    best = j.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("b"),
    )
    return best.select(
        "component",
        "n_members",
        (-F.col("b.neg_id")).cast("long").alias("keep_doc_id"),
        F.col("b.quality").alias("keep_quality"),
    )


def _oracle_quality_subquery() -> str:
    from udacity_dsnd_projects_spark.functions.text import ORACLE_QUALITY_SCORE

    return f"(SELECT doc_id, quality FROM ({ORACLE_QUALITY_SCORE}) zq)"


ORACLE_DEDUP_PRIORITY = f"""
WITH RECURSIVE lsh AS ({_oracle_lsh_pairs("documents")}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM lsh
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM lsh
),
walk(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS component FROM walk GROUP BY node),
q AS (SELECT * FROM {_oracle_quality_subquery()} zz),
sel AS (
  SELECT comp.component, comp.doc_id, q.quality
  FROM comp JOIN q ON comp.doc_id = q.doc_id
)
SELECT component, n_members, doc_id AS keep_doc_id, quality AS keep_quality
FROM (
  SELECT s.*,
         COUNT(*) OVER (PARTITION BY component) AS n_members,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY quality DESC, doc_id) AS rn
  FROM sel s
) t WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Winnowing strip (round-11 addition): the MOSS action face
# --------------------------------------------------------------------------
def winnowing_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-overlap REMOVAL — the action
    :func:`~udacity_dsnd_projects_spark.functions.dedup.winnowing_overlap_pairs`
    only diagnoses (the same report→action split as ``passage_dedup``
    → ``boilerplate_strip`` and ``ngram_contamination`` →
    ``decontaminate_corpus``): documents tied together by ≥-threshold
    winnowing overlap form clusters (connected components over the
    MOSS match graph — containment chains A⊂B, B∼C are one cluster),
    and each cluster retains its HIGHEST-QUALITY member (ties to the
    smaller doc_id — the :func:`dedup_priority` keeper policy; the
    contained/boilerplate-heavy side is exactly the side the quality
    score marks down). One row per cluster: (component, n_members,
    keep_doc_id, keep_quality, n_dropped, keep_md5) — ``keep_md5`` is
    the md5 of the keeper's RAW text, so the oracle verifies the
    retained payload bit-for-bit, the ``clean_md5`` pattern of
    ``boilerplate_strip``.

    Scale shape: the component loop runs over the PAIR GRAPH only
    (ids, never text); quality joins on doc_id; the keeper argmax is
    one map-side-combined ``max(struct)`` groupBy; the md5 is computed
    ABOVE the keeper join, so only one text row per CLUSTER is hashed
    (component-cardinality, not corpus-cardinality) and the
    cluster-sized build side broadcasts."""
    from udacity_dsnd_projects_spark.functions.dedup import winnowing_pairs_for
    from udacity_dsnd_projects_spark.functions.text import quality_score_expr

    docs = load_table(spark, "documents", sf_dir)
    comp = connected_components(
        winnowing_pairs_for(docs).select("doc_a", "doc_b")
    )
    # Score quality only for COMPONENT MEMBERS: the regex-heavy
    # composite score used to run over the whole corpus and then join
    # slim, discarding all non-member rows. The component label frame
    # is node-sized over the MATCH GRAPH only (near-dup docs, orders
    # of magnitude under the corpus) and already materialized by the
    # CC loop's checkpoint, so broadcasting it onto the documents scan
    # (the §3.2 semi-join pre-filter; same O(matched-nodes) broadcast
    # regime as pagerank's rank state) drops non-members BEFORE the
    # scoring expressions evaluate — identical quality values on the
    # surviving rows, no text column through any exchange.
    scored = (
        docs.select("doc_id", "text")
        .join(F.broadcast(comp), "doc_id")
        .select(
            "component",
            "doc_id",
            quality_score_expr(F.col("text")).alias("quality"),
        )
    )
    best = (
        scored.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("b"),
        )
        .select(
            "component",
            "n_members",
            (-F.col("b.neg_id")).cast("long").alias("keep_doc_id"),
            F.col("b.quality").alias("keep_quality"),
            (F.col("n_members") - 1).cast("long").alias("n_dropped"),
        )
    )
    # md5 sits ABOVE the join, so it evaluates only on rows that
    # survive it — one text row hashed per CLUSTER, not per corpus row
    # (the pre-fix shape computed md5 under the join's child, hashing
    # every document). `best` is component-cardinality, so AQE picks a
    # broadcast-hash join and the text column never crosses an
    # exchange; the scan itself still reads text once (columnar
    # point-lookup by id would need an indexed store).
    return best.join(
        docs.select(F.col("doc_id").alias("keep_doc_id"), "text"),
        "keep_doc_id",
    ).select(
        "component",
        "n_members",
        "keep_doc_id",
        "keep_quality",
        "n_dropped",
        F.md5(F.col("text").cast("binary")).alias("keep_md5"),
    )


def _oracle_winnowing_strip() -> str:
    from udacity_dsnd_projects_spark.functions.dedup import (
        _ORACLE_WINNOW_FPS,
        SHINGLE_DF_CAP,
        WINNOW_OVERLAP_T,
    )

    return f"""
WITH RECURSIVE fps AS ({_ORACLE_WINNOW_FPS}),
ex_all AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
ex AS (
  SELECT doc_id, fp FROM ex_all
  QUALIFY COUNT(*) OVER (PARTITION BY fp) <= {SHINGLE_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
wpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
  JOIN sizes sa ON a.doc_id = sa.doc_id
  JOIN sizes sb ON b.doc_id = sb.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) * 1.0 / LEAST(MIN(sa.n), MIN(sb.n)) >= {WINNOW_OVERLAP_T}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM wpairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM wpairs
),
walk(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS component FROM walk GROUP BY node),
q AS (SELECT * FROM {_oracle_quality_subquery()} zz),
sel AS (
  SELECT comp.component, comp.doc_id, q.quality
  FROM comp JOIN q ON comp.doc_id = q.doc_id
),
best AS (
  SELECT component, n_members, doc_id AS keep_doc_id, quality AS keep_quality,
         n_members - 1 AS n_dropped
  FROM (
    SELECT s.*,
           COUNT(*) OVER (PARTITION BY component) AS n_members,
           ROW_NUMBER() OVER (PARTITION BY component
                              ORDER BY quality DESC, doc_id) AS rn
    FROM sel s
  ) t WHERE rn = 1
)
SELECT b.component, b.n_members, b.keep_doc_id, b.keep_quality,
       CAST(b.n_dropped AS BIGINT) AS n_dropped,
       md5(d.text) AS keep_md5
FROM best b JOIN documents d ON b.keep_doc_id = d.doc_id
"""


ORACLE_WINNOWING_STRIP = _oracle_winnowing_strip()


def screen_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-triage FUNNEL across all three dedup screens — per
    source, how much of the corpus each screen flags: (source, n_docs,
    n_exact_dup, n_near_dup, n_substring, n_any_screen, clean_rate).
    ``n_exact_dup`` counts docs whose content hash repeats corpus-wide;
    ``n_near_dup`` docs in any MinHash-LSH candidate pair (whole-doc
    similarity); ``n_substring`` docs in any ≥-threshold winnowing
    overlap pair (position-robust shared runs — the quote/wrap case).
    The one table that says which screen is doing the work on which
    source — before a pipeline pays for cluster resolution and
    keeper policies.

    Scale shape: three id-producing substrates (hash groupBy; the two
    capped inverted-index joins), each already scale-shaped, reduced
    to DISTINCT doc_id sets that join back onto a slim
    (doc_id, source) frame by doc_id; the rollup is a
    source-cardinality map-side-combined groupBy. Text is scanned
    once per substrate and never shuffled (hashes only)."""
    from udacity_dsnd_projects_spark.functions.dedup import (
        lsh_pairs_from_sigs,
        signatures_and_winnow_vectorized,
        winnowing_pairs_from_rows,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "text"
    )
    ids = docs.select("doc_id", "source")
    hashed = docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("h")
    )
    dup_h = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("h")
    )
    exact_ids = hashed.join(dup_h, "h", "semi").select("doc_id")

    def _pair_ids(pairs: DataFrame) -> DataFrame:
        return pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()

    # ONE corpus hashing pass for both similarity screens (r15 §15):
    # the fused kernel emits the MinHash signature and the winnowing
    # fingerprint set from the same positional gram sequence, and the
    # slim (doc_id, mh, fps) frame is checkpointed so each screen's
    # pair derivation reads it instead of re-crossing Arrow / re-running
    # the JVM hash chain. Plain explode on the checkpointed fps COLUMN
    # is guard-safe (the inferred size() filter tests a stored array,
    # not a re-evaluated expansion — the §9 distinction).
    sigfp = signatures_and_winnow_vectorized(
        docs.select("doc_id", "text")
    ).localCheckpoint(eager=False)
    near_ids = _pair_ids(lsh_pairs_from_sigs(sigfp.select("doc_id", "mh")))
    sub_ids = _pair_ids(
        winnowing_pairs_from_rows(
            sigfp.select("doc_id", F.explode("fps").alias("fp"))
        )
    )
    flagged = (
        ids.join(
            exact_ids.withColumn("__e", F.lit(1)), "doc_id", "left"
        )
        .join(near_ids.withColumn("__n", F.lit(1)), "doc_id", "left")
        .join(sub_ids.withColumn("__s", F.lit(1)), "doc_id", "left")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__e").alias("n_exact_dup"),
            F.count("__n").alias("n_near_dup"),
            F.count("__s").alias("n_substring"),
            F.sum(
                F.when(
                    F.coalesce("__e", "__n", "__s").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_any_screen"),
        )
        .select(
            "source",
            "n_docs",
            "n_exact_dup",
            "n_near_dup",
            "n_substring",
            "n_any_screen",
            F.round(
                (F.col("n_docs") - F.col("n_any_screen")) / F.col("n_docs"),
                6,
            ).alias("clean_rate"),
        )
    )


def _oracle_screen_funnel_report() -> str:
    from udacity_dsnd_projects_spark.functions.dedup import (
        _ORACLE_WINNOW_FPS,
        SHINGLE_DF_CAP,
        WINNOW_OVERLAP_T,
    )

    return f"""
WITH hashed AS (
  SELECT doc_id, source, md5(text) AS h FROM documents
),
dup_h AS (SELECT h FROM hashed GROUP BY h HAVING COUNT(*) > 1),
lsh AS ({_oracle_lsh_pairs("documents")}),
near_ids AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM lsh
    UNION ALL SELECT doc_b AS doc_id FROM lsh
  ) zn
),
fps AS ({_ORACLE_WINNOW_FPS}),
ex_all AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
ex AS (
  SELECT doc_id, fp FROM ex_all
  QUALIFY COUNT(*) OVER (PARTITION BY fp) <= {SHINGLE_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
wpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
  JOIN sizes sa ON a.doc_id = sa.doc_id
  JOIN sizes sb ON b.doc_id = sb.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) * 1.0 / LEAST(MIN(sa.n), MIN(sb.n)) >= {WINNOW_OVERLAP_T}
),
sub_ids AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM wpairs
    UNION ALL SELECT doc_b AS doc_id FROM wpairs
  ) zs
),
per AS (
  SELECT h.source,
         CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END AS e,
         CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS nn,
         CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS ss
  FROM hashed h
  LEFT JOIN dup_h d ON h.h = d.h
  LEFT JOIN near_ids n ON h.doc_id = n.doc_id
  LEFT JOIN sub_ids s ON h.doc_id = s.doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(e) AS BIGINT) AS n_exact_dup,
       CAST(SUM(nn) AS BIGINT) AS n_near_dup,
       CAST(SUM(ss) AS BIGINT) AS n_substring,
       CAST(SUM(CASE WHEN e + nn + ss > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_any_screen,
       ROUND((COUNT(*) - SUM(CASE WHEN e + nn + ss > 0 THEN 1 ELSE 0 END))
             * 1.0 / COUNT(*), 6) AS clean_rate
FROM per GROUP BY source
"""


ORACLE_SCREEN_FUNNEL_REPORT = _oracle_screen_funnel_report()


# --------------------------------------------------------------------------
# Near-dup rate by source (round-5 addition)
# --------------------------------------------------------------------------
def near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication dashboard: how much of each source's
    corpus sits inside a near-dup cluster — (source, n_docs,
    n_near_dup, dup_rate). The triage table a curation run reads
    first: a source with a high near-dup rate is a scraper loop or a
    mirror, and gets fixed at the SOURCE, not doc-by-doc.

    Scale shape: the component frame is pair-graph-sized (near-dup
    docs only) and joins documents on doc_id; both aggregates are
    map-side-combined groupBys on the source string; the near-dup
    side broadcasts onto the per-source totals (source-cardinality
    metadata)."""
    comp = near_dup_components(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    dup = (
        comp.join(docs, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_near_dup"))
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return totals.join(F.broadcast(dup), "source", "left").select(
        "source",
        "n_docs",
        F.coalesce(F.col("n_near_dup"), F.lit(0)).cast("long").alias("n_near_dup"),
        F.round(
            F.coalesce(F.col("n_near_dup"), F.lit(0)) / F.col("n_docs"), 6
        ).alias("dup_rate"),
    )


ORACLE_NEAR_DUP_RATE_BY_SOURCE = f"""
WITH RECURSIVE lsh AS ({_oracle_lsh_pairs("documents")}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM lsh
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM lsh
),
walk(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
),
comp AS (SELECT node AS doc_id FROM walk GROUP BY node),
dup AS (
  SELECT d.source, COUNT(*) AS n_near_dup
  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
  GROUP BY d.source
),
totals AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
SELECT t.source, t.n_docs,
       COALESCE(dup.n_near_dup, 0) AS n_near_dup,
       ROUND(COALESCE(dup.n_near_dup, 0) * 1.0 / t.n_docs, 6) AS dup_rate
FROM totals t LEFT JOIN dup ON t.source = dup.source
"""


def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datacard: the one-stop summary a dataset
    release ships — document and token counts, English share, mean
    composite quality, and exact-duplicate rate — computed over the
    same planted-duplicate corpus as ``exact_dedup`` so the dup-rate
    column reflects real duplicate mass at every SF.

    Scale shape: ONE documents scan computes every per-doc input
    (token count, quality composite, content md5) inside a single
    codegen stage; the only shuffle is the groupBy(source) whose
    countDistinct runs the standard two-phase partial-distinct. The
    quality composite lands on exact quarter steps (binary-exact
    doubles), so its SUM is order-independent; every ratio divides
    exact integer/step counts as doubles — engine-identical."""
    from udacity_dsnd_projects_spark.functions.text import (
        quality_score_expr,
        tokens_col,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "lang", "source"
    )
    copies = docs.filter(F.col("doc_id") % PLANTED_DUP_MOD == 0).select(
        (F.col("doc_id") + PLANTED_ID_OFFSET).alias("doc_id"),
        "text",
        "lang",
        "source",
    )
    per_doc = docs.unionByName(copies).select(
        "source",
        (F.col("lang") == "en").cast("int").alias("__is_en"),
        F.size(tokens_col(F.col("text"))).alias("__n_tok"),
        quality_score_expr(F.col("text")).alias("__q"),
        F.md5(F.col("text").cast("binary")).alias("__h"),
    )
    n = F.count(F.lit(1))
    return per_doc.groupBy("source").agg(
        n.alias("n_docs"),
        F.sum("__n_tok").alias("total_tokens"),
        (F.sum("__is_en").cast("double") / n.cast("double")).alias("pct_en"),
        (F.sum("__q") / n.cast("double")).alias("mean_quality"),
        (
            F.lit(1.0)
            - F.countDistinct("__h").cast("double") / n.cast("double")
        ).alias("dup_rate"),
    )


from udacity_dsnd_projects_spark.functions.text import (  # noqa: E402
    _ORACLE_QUALITY_EXPR,
)

ORACLE_CORPUS_DATACARD = rf"""
WITH d AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + {PLANTED_ID_OFFSET} AS doc_id, text, lang, source
  FROM documents WHERE doc_id % {PLANTED_DUP_MOD} = 0
), per_doc AS (
  SELECT source,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
         len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tok,
         {_ORACLE_QUALITY_EXPR} AS q,
         md5(text) AS h
  FROM d
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(is_en) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pct_en,
       SUM(q) / CAST(COUNT(*) AS DOUBLE) AS mean_quality,
       1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS dup_rate
FROM per_doc GROUP BY source
"""


# --------------------------------------------------------------------------
# Train/test split leakage via near-duplicates (round 6)
# --------------------------------------------------------------------------
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination check for the deterministic train/test split: how
    many NEAR-DUPLICATE pairs straddle the split boundary. A document
    hash-split keeps each doc's assignment independent of its content,
    which is exactly why two near-identical docs can land on opposite
    sides — the eval set then contains (approximate) copies of
    training data and benchmark numbers inflate. Run over the
    planted-duplicate corpus (same fixture as ``exact_dedup`` /
    ``corpus_curation``) so the report has real leakage to find:
    (pair_class ∈ {within_train, within_test, cross_split}, n_pairs,
    mean_jaccard, pair_share). cross_split rows are the pairs a
    pipeline either removes from eval or collapses before splitting.

    Scale shape: the pair frame IS the capped LSH candidate output
    (never all-pairs); the split labels are pure modular arithmetic on
    the pair's own id columns (zero joins — no corpus re-scan), and
    the rollup reduces to ≤3 rows map-side. Mean similarity divides a
    DECIMAL-exact sum; pair_share divides exact counts over the 3-row
    frame's window total."""
    from udacity_dsnd_projects_spark.functions.pipeline import split_assign

    pairs = lsh_pairs_for(_docs_with_planted_dups(spark, sf_dir))
    sa, sb = split_assign(F.col("doc_a")), split_assign(F.col("doc_b"))
    classed = pairs.select(
        F.when(sa == sb, F.concat(F.lit("within_"), sa))
        .otherwise(F.lit("cross_split"))
        .alias("pair_class"),
        F.col("est_jaccard").cast("decimal(30,10)").alias("j"),
    )
    agg = classed.groupBy("pair_class").agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("j").alias("__jsum")
    )
    total = Window.partitionBy()
    return agg.select(
        "pair_class",
        "n_pairs",
        F.round(F.col("__jsum").cast("double") / F.col("n_pairs"), 6).alias(
            "mean_jaccard"
        ),
        F.round(
            F.col("n_pairs").cast("double") / F.sum("n_pairs").over(total), 6
        ).alias("pair_share"),
    )


def _oracle_split_leakage() -> str:
    from udacity_dsnd_projects_spark.functions.pipeline import (
        SPLIT_A,
        SPLIT_B,
        SPLIT_MOD,
        TRAIN_PCT,
    )

    split = (
        lambda c: f"CASE WHEN ({c} * {SPLIT_A} + {SPLIT_B}) % {SPLIT_MOD} "
        f"% 100 < {TRAIN_PCT} THEN 'train' ELSE 'test' END"
    )
    return f"""
WITH planted AS ({_ORACLE_PLANTED}),
lsh AS ({_oracle_lsh_pairs("planted")}),
classed AS (
  SELECT CASE WHEN {split("doc_a")} = {split("doc_b")}
              THEN 'within_' || {split("doc_a")}
              ELSE 'cross_split' END AS pair_class,
         CAST(est_jaccard AS DECIMAL(30,10)) AS j
  FROM lsh
),
agg AS (
  SELECT pair_class, COUNT(*) AS n_pairs, SUM(j) AS jsum
  FROM classed GROUP BY pair_class
)
SELECT pair_class, n_pairs,
       ROUND(CAST(jsum AS DOUBLE) / n_pairs, 6) AS mean_jaccard,
       ROUND(CAST(n_pairs AS DOUBLE) / SUM(n_pairs) OVER (), 6) AS pair_share
FROM agg
"""


ORACLE_SPLIT_LEAKAGE_REPORT = _oracle_split_leakage()


def deleak_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION face of :func:`split_leakage_report` (the
    report→action split this engine applies everywhere —
    ``k_anonymity_report``→``k_anonymize_release``,
    ``winnowing_overlap_pairs``→``winnowing_strip``): decontaminate
    the TRAIN side. Every train document that near-duplicates a test
    document across the split boundary is dropped; the eval set stays
    frozen (the standard practice — fixing leakage by touching eval
    would invalidate every previously published number on it). One row
    per planted-corpus document: (doc_id, split, n_cross_pairs,
    action ∈ {keep, dropped_leak}) — the released split assignment a
    training run consumes, with the leak count kept observable instead
    of silently filtered.

    Scale shape: the pair frame IS the capped LSH candidate output
    (never all-pairs); the leak-id frame is pair-bounded (tiny at sane
    dup rates — broadcastable); the release join is one equi-join of
    the corpus against that slim frame, and the split labels are pure
    modular arithmetic on each row's own id (no second corpus scan)."""
    from udacity_dsnd_projects_spark.functions.pipeline import split_assign

    planted = _docs_with_planted_dups(spark, sf_dir)
    pairs = lsh_pairs_for(planted)
    sa, sb = split_assign(F.col("doc_a")), split_assign(F.col("doc_b"))
    leaks = (
        pairs.filter((sa == "train") & (sb == "test"))
        .select(F.col("doc_a").alias("doc_id"))
        .unionByName(
            pairs.filter((sb == "train") & (sa == "test")).select(
                F.col("doc_b").alias("doc_id")
            )
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n_cross"))
    )
    return _deleak_release(planted.select("doc_id"), leaks)


def _deleak_release(ids: DataFrame, leaks: DataFrame) -> DataFrame:
    """The release join of :func:`deleak_split` over explicit frames:
    ``ids`` (doc_id — batch corpus scan OR an arriving crawl stream)
    left-joined against the pair-bounded leak frame (doc_id,
    __n_cross). Shared verbatim by the batch face and the streaming
    probe (:func:`~udacity_dsnd_projects_spark.streaming.stateful.
    deleak_probe_stream`), so stream == batch by construction. The
    split label is pure modular arithmetic on the row's own id — no
    second corpus scan, stateless under a readStream."""
    from udacity_dsnd_projects_spark.functions.pipeline import split_assign

    return ids.join(leaks, "doc_id", "left").select(
        "doc_id",
        split_assign(F.col("doc_id")).alias("split"),
        F.coalesce(F.col("__n_cross"), F.lit(0))
        .cast("long")
        .alias("n_cross_pairs"),
        F.when(F.col("__n_cross").isNull(), F.lit("keep"))
        .otherwise(F.lit("dropped_leak"))
        .alias("action"),
    )


def _oracle_deleak_split() -> str:
    from udacity_dsnd_projects_spark.functions.pipeline import (
        SPLIT_A,
        SPLIT_B,
        SPLIT_MOD,
        TRAIN_PCT,
    )

    split = (
        lambda c: f"CASE WHEN ({c} * {SPLIT_A} + {SPLIT_B}) % {SPLIT_MOD} "
        f"% 100 < {TRAIN_PCT} THEN 'train' ELSE 'test' END"
    )
    return f"""
WITH planted AS ({_ORACLE_PLANTED}),
lsh AS ({_oracle_lsh_pairs("planted")}),
leaks AS (
  SELECT doc_id, COUNT(*) AS n_cross FROM (
    SELECT doc_a AS doc_id FROM lsh
    WHERE {split("doc_a")} = 'train' AND {split("doc_b")} = 'test'
    UNION ALL
    SELECT doc_b AS doc_id FROM lsh
    WHERE {split("doc_b")} = 'train' AND {split("doc_a")} = 'test'
  ) t GROUP BY doc_id
)
SELECT p.doc_id,
       {split("p.doc_id")} AS split,
       CAST(COALESCE(l.n_cross, 0) AS BIGINT) AS n_cross_pairs,
       CASE WHEN l.doc_id IS NULL THEN 'keep' ELSE 'dropped_leak' END
         AS action
FROM planted p LEFT JOIN leaks l ON p.doc_id = l.doc_id
"""


ORACLE_DELEAK_SPLIT = _oracle_deleak_split()


# --------------------------------------------------------------------------
# Near-dup graph observability: source overlap, cluster sizes, triangles
# (round 6, third batch)
# --------------------------------------------------------------------------
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which crawl sources duplicate EACH OTHER: the near-dup pair
    graph rolled up to an unordered source×source matrix — (source_a,
    source_b, n_pairs, pair_share). The mirror-detection readout:
    :func:`near_dup_rate_by_source` says source X is 40% duplicated;
    this says the copies live in source Y — so the fix is dropping the
    mirror, not doc-by-doc deletion. Diagonal rows (same source both
    sides) are intra-source scraper loops.

    Scale shape: the pair frame IS the capped LSH candidate output;
    two equi-joins attach the (doc_id, source) projection — the pair
    side is far smaller than the corpus — and the rollup reduces to a
    sources²-bounded frame map-side. ``pair_share`` divides exact
    counts over that tiny frame's window total."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = lsh_pairs_for(docs.select("doc_id", "text"))
    src = docs.select("doc_id", "source")
    j = pairs.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
        "doc_a",
    ).join(
        src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
        "doc_b",
    )
    agg = j.groupBy(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).agg(F.count(F.lit(1)).alias("n_pairs"))
    total = Window.partitionBy()
    return agg.select(
        "source_a",
        "source_b",
        "n_pairs",
        F.round(
            F.col("n_pairs").cast("double") / F.sum("n_pairs").over(total), 6
        ).alias("pair_share"),
    )


ORACLE_SOURCE_OVERLAP_MATRIX = f"""
WITH p AS ({_oracle_lsh_pairs("documents")}),
j AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b
  FROM p
  JOIN documents da ON p.doc_a = da.doc_id
  JOIN documents db ON p.doc_b = db.doc_id
),
agg AS (
  SELECT source_a, source_b, COUNT(*) AS n_pairs
  FROM j GROUP BY source_a, source_b
)
SELECT source_a, source_b, n_pairs,
       ROUND(CAST(n_pairs AS DOUBLE) / SUM(n_pairs) OVER (), 6) AS pair_share
FROM agg
"""


def dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the near-dup clusters — (cluster_size,
    n_clusters, n_docs). The curation-planning readout: a corpus of
    many 2-clusters dedups cheaply and loses little; a few giant
    clusters mean boilerplate or a mirror (cross-check
    :func:`source_overlap_matrix`) and a large deletion volume.
    ``n_docs = cluster_size × n_clusters`` is the exact doc count the
    dedup pass will touch per stratum.

    Scale shape: two map-side-combined aggregations over the
    component frame (pair-graph-sized, never the corpus); the
    histogram is at most O(max cluster size) rows."""
    comp = near_dup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
    )


ORACLE_DUP_CLUSTER_HISTOGRAM = f"""
WITH comp AS ({ORACLE_NEAR_DUP_COMPONENTS}),
sizes AS (
  SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""


def near_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering diagnostics of the near-dup pair graph in one
    row — (n_edges, n_wedges, n_triangles, transitivity) with
    transitivity = 3·triangles/wedges. This is the statistic that
    justifies (or indicts) collapsing near-dup clusters by connected
    components: transitivity near 1 means the pair graph is a union of
    near-cliques — components ARE duplicate groups; low transitivity
    means long weak chains, and a component collapse is over-merging
    docs that were never pairwise similar.

    Scale shape: the edge frame (capped LSH output) is eagerly
    localCheckpoint'ed once, so the three-way triangle self-join reads
    the materialized ids instead of re-evaluating the LSH subtree per
    join side (the same pair-graph-only discipline as the
    connected-components loop). Wedge counts come from exact degree
    sums; the a<b<c orientation counts each triangle exactly once.
    Everything after the LSH cap is bounded by the pair graph, never
    the corpus."""
    pairs = lsh_pairs_for(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )
    edges = pairs.select("doc_a", "doc_b").localCheckpoint(eager=True)
    deg = (
        edges.select(F.explode(F.array("doc_a", "doc_b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.expr("CAST(SUM(d * (d - 1)) DIV 2 AS BIGINT)").alias("n_wedges")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e1.doc_a") == F.col("e3.doc_a"))
            & (F.col("e2.doc_b") == F.col("e3.doc_b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_edges.crossJoin(wedges)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
                ),
            ).alias("transitivity"),
        )
    )


ORACLE_NEAR_DUP_TRIANGLES = f"""
WITH p AS ({_oracle_lsh_pairs("documents")}),
edges AS (SELECT doc_a, doc_b FROM p),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT doc_a AS node FROM edges
    UNION ALL SELECT doc_b AS node FROM edges
  ) GROUP BY node
),
w AS (SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM deg),
t AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.doc_b = e2.doc_a
  JOIN edges e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b
),
ne AS (SELECT COUNT(*) AS n_edges FROM edges)
SELECT n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN ROUND(3.0 * n_triangles / n_wedges, 6) END AS transitivity
FROM ne CROSS JOIN w CROSS JOIN t
"""


# --------------------------------------------------------------------------
# Stratum-vs-global quality-distribution drift (EMD gate)
# --------------------------------------------------------------------------

#: Drift alarm threshold: a (lang, source) stratum whose quality-score
#: distribution sits further than this (normalized 1-D EMD) from the
#: global corpus distribution is mixing in systematically different
#: material (a crawler regression, a spam burst, a template flood) even
#: when its MEAN quality looks fine. Spec constant like the privacy
#: gates' k/l/t; the tests check internal consistency, not a firing
#: rate.
QUALITY_DRIFT_T = 0.2


def quality_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) quality-distribution drift gate — the
    corpus-curation twin of
    :func:`~udacity_dsnd_projects_spark.functions.pipeline.t_closeness_report`:
    the same normalized 1-D EMD machinery, pointed at the question a
    training-data pipeline actually asks per ingest — *does this
    stratum's quality mix still look like the corpus?* The ordered
    dimension is the composite quality score
    (:func:`~udacity_dsnd_projects_spark.functions.text.quality_score_expr`),
    which lands on exact quarter steps, so ``score × 4`` is an exact
    integer band in [0, 4]. One row per stratum:
    (lang, source, n_docs, emd, drifted).

    Scale shape (same as the t-closeness gate): the ONLY data-sized
    operation is the first (lang, source, band) groupBy (map-side
    partial aggregation); the group × band grid is langs × sources × 5
    rows at ANY corpus size, built by cross join so zero-count cells
    exist, cumulative-summed by a window over the metadata-sized
    frame. Each |cumulative| term is rounded to 8 dp and summed as
    DECIMAL (the order-independent cross-engine accumulation rule).
    The cell frame is eagerly checkpointed: four consumers read it and
    without materialization each re-runs the corpus scan + the
    regex-heavy scoring. No collect."""
    from udacity_dsnd_projects_spark.functions.text import quality_score_expr

    docs = load_table(spark, "documents", sf_dir)
    cell = (
        docs.select(
            "lang",
            "source",
            (quality_score_expr(F.col("text")) * 4).cast("int").alias("band"),
        )
        .groupBy("lang", "source", "band")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    grp = cell.groupBy("lang", "source").agg(F.sum("n").alias("grp_n"))
    band = cell.groupBy("band").agg(F.sum("n").alias("band_n"))
    glob = band.agg(
        F.sum("band_n").alias("tot"),
        F.count(F.lit(1)).alias("m"),
        F.max("band").alias("band_max"),
    )
    grid = (
        grp.crossJoin(F.broadcast(band))
        .join(cell, ["lang", "source", "band"], "left")
        .crossJoin(F.broadcast(glob))
    )
    diff = F.coalesce(F.col("n"), F.lit(0)) / F.col("grp_n") - F.col(
        "band_n"
    ) / F.col("tot")
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the final band's cumulative diff is 0 by construction — exclude
    # it so float noise there can't leak into the sum
    # the exclusion is a CONDITIONAL inside the aggregate (not a row
    # filter) so every stratum survives even a single-band corpus,
    # where the grid holds only band_max rows; m == 1 means the global
    # distribution has one point mass and every stratum trivially
    # matches it — emd is 0 by definition (0/0 otherwise)
    per_group = (
        grid.withColumn("__cum", F.sum(diff).over(w))
        .groupBy("lang", "source", "grp_n", "m")
        .agg(
            F.sum(
                F.when(
                    F.col("band") < F.col("band_max"),
                    F.round(F.abs(F.col("__cum")), 8).cast("decimal(30,10)"),
                )
            ).alias("__emd_dec")
        )
        .select(
            "lang",
            "source",
            F.col("grp_n").alias("n_docs"),
            F.when(F.col("m") == 1, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("__emd_dec").cast("double") / (F.col("m") - 1), 6
                )
            )
            .alias("emd"),
        )
    )
    return per_group.withColumn(
        "drifted", (F.col("emd") > QUALITY_DRIFT_T).cast("int")
    )


ORACLE_QUALITY_DRIFT_REPORT = f"""
WITH cell AS (
  SELECT lang, source,
         CAST({_ORACLE_QUALITY_EXPR} * 4 AS INTEGER) AS band,
         COUNT(*) AS n
  FROM documents GROUP BY 1, 2, 3
), grp AS (
  SELECT lang, source, SUM(n) AS grp_n FROM cell GROUP BY 1, 2
), band AS (
  SELECT band, SUM(n) AS band_n FROM cell GROUP BY 1
), totals AS (
  SELECT SUM(band_n) AS tot, COUNT(*) AS m, MAX(band) AS band_max
  FROM band
), grid AS (
  SELECT g.lang, g.source, g.grp_n, b.band, b.band_n,
         gl.tot, gl.m, gl.band_max, COALESCE(c.n, 0) AS n
  FROM grp g CROSS JOIN band b CROSS JOIN totals gl
  LEFT JOIN cell c ON c.lang = g.lang
   AND c.source = g.source AND c.band = b.band
), cum AS (
  SELECT lang, source, grp_n, m, band, band_max,
         SUM(n * 1.0 / grp_n - band_n * 1.0 / tot) OVER (
           PARTITION BY lang, source ORDER BY band
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM grid
), per_group AS (
  SELECT lang, source, CAST(grp_n AS BIGINT) AS n_docs,
         CASE WHEN ANY_VALUE(m) = 1 THEN 0.0
              ELSE ROUND(CAST(SUM(CASE WHEN band < band_max THEN
                           CAST(ROUND(ABS(c), 8) AS DECIMAL(30,10)) END)
                         AS DOUBLE) / (ANY_VALUE(m) - 1), 6) END AS emd
  FROM cum
  GROUP BY lang, source, grp_n
)
SELECT lang, source, n_docs, emd,
       CAST(CASE WHEN emd > {QUALITY_DRIFT_T} THEN 1 ELSE 0 END
            AS INTEGER) AS drifted
FROM per_group
"""


def quarantine_drifting_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION face of :func:`quality_drift_report` (the
    report→action split: ``split_leakage_report``→``deleak_split``,
    ``k_anonymity_report``→``k_anonymize_release``): hold back every
    document whose (lang, source) stratum failed the EMD drift gate —
    the ingest decision a pipeline takes on the report before the
    batch reaches training. One row per document: (doc_id, lang,
    source, action ∈ {keep, quarantined}). The gate is the report's
    OWN ``drifted`` flag (built on the same frame), so the action can
    never disagree with the dashboard.

    Scale shape: the report reduces to a (langs × sources)-sized
    frame — metadata — so the release is ONE broadcast left join onto
    the corpus scan; no second scoring pass, no extra shuffle. NOTE:
    construction inherits the report's documented eager checkpoint."""
    rep = quality_drift_report(spark, sf_dir).select(
        "lang", "source", "drifted"
    )
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "source"
    )
    return _quarantine_release(docs, rep)


def _quarantine_release(docs: DataFrame, rep: DataFrame) -> DataFrame:
    """The release join of :func:`quarantine_drifting_sources` over
    explicit frames: ``docs`` (doc_id, lang, source — batch corpus
    scan OR an arriving crawl stream) broadcast-left-joined against
    the metadata-sized drift report (lang, source, drifted). Shared
    verbatim by the batch face and the streaming probe
    (:func:`~udacity_dsnd_projects_spark.streaming.stateful.
    quarantine_probe_stream`), so stream == batch by construction —
    stateless, one broadcast join, no shuffle of the document side."""
    return docs.join(F.broadcast(rep), ["lang", "source"], "left").select(
        "doc_id",
        "lang",
        "source",
        F.when(F.col("drifted") == 1, F.lit("quarantined"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )


ORACLE_QUARANTINE_DRIFTING_SOURCES = f"""
WITH rep AS ({ORACLE_QUALITY_DRIFT_REPORT})
SELECT d.doc_id, d.lang, d.source,
       CASE WHEN r.drifted = 1 THEN 'quarantined' ELSE 'keep' END AS action
FROM documents d LEFT JOIN rep r
  ON d.lang = r.lang AND d.source = r.source
"""
