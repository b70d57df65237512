"""Entity linking + surface-form canonicalization.

New functionality vs the reference (SURVEY.md §7 M4; reference's closest
analogs are the coref similarity scoring in cross_text_binary_coref.py and
the merge+dedup in utils/document.py:76-144):

  1. normalize surface forms (JVM-side string expressions),
  2. entity linking against a broadcast alias dictionary (equi-join),
  3. MinHash-LSH blocking over char-shingles of the normalized surface
     (portable universal-hash min-hashing over one md5 base hash per
     shingle, functions/hashing.py) -> candidate equivalence edges within
     LSH buckets,
  4. verify edges by exact Jaccard on shingle sets (array_intersect) inside
     the band self-join,
  5. connected components (driver union-find when small, large-star /
     small-star rounds otherwise), labeled by their minimum node,
  6. canonical entity_id = 'sf:' + that label, the lexicographic min
     normalized form per component (none for an empty normalized form).

Scale notes: every step is a shuffle on a bounded key (band key / node id);
bucket sizes are capped (`max_bucket`) so a degenerate band (stopword-ish
surface) cannot produce a quadratic pair explosion — dropped buckets are
observable via lineage counts, not silent.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

from ..functions.hashing import MINHASH_AB, MINHASH_PRIME


def normalize_surface(col):
    """lowercase, strip non-alphanumerics, collapse whitespace — JVM-side."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9 ]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def char_shingles_col(col, k: int = 3):
    """Distinct k-char shingles as an array column (whole-stage codegen,
    no UDF): substring windows over 1..len-k+1."""
    return F.array_distinct(
        F.when(F.length(col) < k, F.array(col)).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.length(col) - (k - 1)),
                lambda i: col.substr(i, F.lit(k)),
            )
        )
    )


def _minhash_fold_sql(shingle_col: str, num_hashes: int) -> str:
    """All components in ONE fold, written as one SQL expression (a single
    py4j call to build, however many components): aggregate over the
    32-bit base hashes int(md5(shingle)[:8], 16) — one digest per shingle
    serves every component (functions/hashing.py family) — with the bound
    element reused by every affine term. Integer math only inside the
    fold."""
    init = ", ".join(f"'mh{i}', {MINHASH_PRIME}" for i in range(num_hashes))
    step = ", ".join(
        f"'mh{i}', least(acc.mh{i}, (h * {a} + {b}) % {MINHASH_PRIME})"
        for i, (a, b) in enumerate(MINHASH_AB[:num_hashes])
    )
    return (
        f"aggregate(transform(`{shingle_col}`, "
        "x -> cast(conv(substring(md5(x), 1, 8), 16, 10) as bigint)), "
        f"named_struct({init}), (acc, h) -> named_struct({step}))"
    )


def with_minhash_signature(df, shingle_col: str, num_hashes: int = 16):
    """Adds mh0..mh{n-1} long columns in a single pass over the shingles.

    The struct is surfaced through inline(array(...)) — a generator is
    evaluated once per row, whereas selecting N getFields of a struct
    expression lets CollapseProject duplicate the whole aggregate (and its
    md5 pass) into every component column. No caching or checkpoint barrier
    is needed, so nothing large stays pinned in executor memory."""
    return df.select(
        *df.columns,
        F.expr(f"inline(array({_minhash_fold_sql(shingle_col, num_hashes)}))"),
    )


def link_entities(
    mentions: DataFrame, alias_dict: DataFrame, alias_col: str = "alias",
    entity_col: str = "entity_id"
) -> DataFrame:
    """Dictionary entity linking: normalized-surface equi-join against a small
    alias table — broadcast by hint (the dictionary is the 'small dim')."""
    aliases = alias_dict.select(
        normalize_surface(F.col(alias_col)).alias("_norm"),
        F.col(entity_col).alias("linked_entity_id"),
    ).dropDuplicates(["_norm"])
    m = mentions.withColumn("_norm", normalize_surface(F.col("surface")))
    return m.join(F.broadcast(aliases), "_norm", "left").drop("_norm")


def _surface_band_stack(
    surfaces: DataFrame,
    surface_col: str,
    shingle_k: int,
    num_hashes: int,
    band_size: int,
) -> DataFrame:
    """(node, shingles, band_key): the MinHash band stack of the distinct
    non-empty surfaces, one row per (surface, band)."""
    base = (
        surfaces.select(F.col(surface_col).alias("node"))
        .where(F.length("node") > 0)
        .dropDuplicates(["node"])
        .withColumn("shingles", char_shingles_col(F.col("node"), shingle_k))
    )
    sig = with_minhash_signature(base, "shingles", num_hashes)
    bands = []
    for b in range(0, num_hashes, band_size):
        cols = [
            F.col(f"mh{i}").cast("string")
            for i in range(b, min(b + band_size, num_hashes))
        ]
        bands.append(F.concat_ws("|", F.lit(str(b)), *cols))
    # the shingles ride the band stack so the self-join verifies each pair
    # in place (no re-join of shingles onto the pairs); materialized because
    # the dropped-bucket count and both self-join sides read it — the
    # signature md5 passes must not be recomputed per reference
    return sig.select(
        "node", "shingles", F.explode(F.array(*bands)).alias("band_key")
    ).localCheckpoint(eager=False)


def lsh_candidate_edges(
    surfaces: DataFrame,
    surface_col: str = "surface_norm",
    shingle_k: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """surfaces: distinct rows with `surface_col`. Returns verified candidate
    edges (src, dst, jaccard) with src < dst.

    `max_bucket=None` (default) is exact. At corpus scale pass a cap: band
    buckets above it are dropped before the self-join (quadratic otherwise);
    the cap is a window count inside the self-join's own band_key shuffle."""
    stacked = _surface_band_stack(
        surfaces, surface_col, shingle_k, num_hashes, band_size
    )
    return _edges_from_stack(stacked, jaccard_threshold, max_bucket)


def _edges_from_stack(
    stacked: DataFrame,
    jaccard_threshold: float,
    max_bucket: int | None,
) -> DataFrame:
    """Edges from a precomputed band stack — split out so
    canonicalize_mentions can share ONE stack between its dropped-bucket
    count and the candidate self-join instead of hashing twice."""
    if max_bucket is not None:
        # cap pathological buckets to avoid quadratic blowup on degenerate
        # keys — window count over band_key rides the self-join's shuffle
        from pyspark.sql import Window

        stacked = (
            stacked.withColumn(
                "_bsz", F.count(F.lit(1)).over(Window.partitionBy("band_key"))
            )
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    a = stacked.select(
        "band_key", F.col("node").alias("src"), F.col("shingles").alias("src_sh")
    )
    b_ = stacked.select(
        "band_key", F.col("node").alias("dst"), F.col("shingles").alias("dst_sh")
    )
    inter = F.size(F.array_intersect(F.col("src_sh"), F.col("dst_sh")))
    union = F.size(F.col("src_sh")) + F.size(F.col("dst_sh")) - inter
    # a pair sharing several bands is verified once per shared band; the
    # jaccard is a function of the pair, so deduping after the filter keeps
    # exactly the verified pairs
    return (
        a.join(b_, "band_key")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
        .dropDuplicates(["src", "dst"])
    )


def _driver_side_components(spark, edge_rows) -> DataFrame:
    """Union-find on the driver for small graphs — identical output contract
    (component = min node label in the component)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for src, dst in edge_rows:
        for n in (src, dst):
            if n not in parent:
                parent[n] = n
        ra, rb = find(src), find(dst)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(n, find(n)) for n in parent]
    return spark.createDataFrame(rows, "node string, component string")


def _sym_explode(edges: DataFrame) -> DataFrame:
    """Both directions of every edge in ONE pass: explode([(s,d),(d,s)]).
    A union of the frame with its swapped self evaluates the upstream
    edge-producing lineage twice; this shape reads it once."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def _symmetrize(edges: DataFrame) -> DataFrame:
    return (
        _sym_explode(edges.select("src", "dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def connected_components_star(
    edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds on ANY graph shape, including the chains that make
    min-label propagation take O(diameter) rounds.

    One round, on the symmetrized edge list:
      m(u) = min(u, min over neighbors of u)
      large-star: for each edge (u, v) with v > u  -> emit (v, m(u))
      small-star: for each edge (u, v) with v <= u -> emit (v, m(u)),
                  plus (u, m(u))
    Iterate until the canonical edge set stops changing; at the fixed point
    every edge connects a node to its component minimum. Returns
    (node, component)."""
    cur = _symmetrize(edges).localCheckpoint()
    changed = None
    for _ in range(max_iter):
        nbr_min = cur.groupBy("src").agg(F.min("dst").alias("_mn"))
        m = F.least(F.col("src"), F.col("_mn")).alias("m")
        j = cur.join(nbr_min, "src").select("src", "dst", m)
        large = j.where(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        small = j.where(F.col("dst") <= F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        self_edge = j.select(F.col("src"), F.col("m").alias("dst"))
        nxt = _symmetrize(
            large.union(small).union(self_edge)
        ).localCheckpoint()
        changed = (
            nxt.join(cur, ["src", "dst"], "left_anti").limit(1).count()
            + cur.join(nxt, ["src", "dst"], "left_anti").limit(1).count()
        )
        cur = nxt
        if changed == 0:
            break
    if changed != 0:
        # a silent return here would hand the caller WRONG components with
        # no signal; the star rounds converge in O(log n), so hitting the
        # bound means max_iter is simply too small for the graph
        raise RuntimeError(
            f"connected_components_star did not converge within {max_iter} "
            "rounds (edge set still changing); raise max_iter"
        )
    # fixed point: stars around component minima
    return (
        cur.groupBy("src")
        .agg(F.min("dst").alias("_m"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "_m").alias("component"),
        )
    )


def connected_components(
    edges: DataFrame, max_iter: int = 25, driver_threshold: int = 100_000
) -> DataFrame:
    """(src, dst) string edges -> (node, component = min node label).

    Hybrid execution: equivalence graphs are usually tiny relative to the
    corpus (distinct near-duplicate surface pairs), so below
    `driver_threshold` edges we run union-find on the driver — one job
    instead of iterative joins. Above it, the distributed path is
    alternating large-star/small-star (connected_components_star):
    O(log n) rounds on ANY graph shape — min-label propagation, the
    previous distributed path, needed O(diameter) rounds and crawled on
    chain-shaped graphs. Both paths produce component = min node label,
    so results are identical (asserted in tests/test_canonicalize.py).
    """
    und = (
        _sym_explode(edges.select("src", "dst"))
        # materialize once: the size probe AND the first star round would
        # otherwise re-run the full upstream lineage that produced the edges
        # (and the single-pass explode halves that lineage vs a self-union)
        .localCheckpoint()
    )
    # one action probes the size and, below the threshold, is the collect
    rows = und.limit(driver_threshold + 1).collect()
    if len(rows) <= driver_threshold:
        return _driver_side_components(
            edges.sparkSession, [(r["src"], r["dst"]) for r in rows]
        )
    return connected_components_star(und, max_iter=max_iter)


def canonicalize_mentions(
    mentions: DataFrame,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    alias_dict: DataFrame | None = None,
    max_bucket: int | None = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Full canonicalization: returns (mention_entity_map, components).

    mention_entity_map: (mention_id, entity_id) where entity_id is the linked
    dictionary id when available, else 'sf:' + canonical surface of the
    mention's connected component.

    This is a corpus-scale entry point, so the LSH quadratic-bucket guard is
    ON by default (`max_bucket=1000`: one degenerate band key otherwise makes
    the candidate self-join O(n^2)); pass None for the exact variant the
    oracle-gated dedup queries use. When the cap engages, the number of
    dropped band buckets and the surface-band rows they cover are logged at
    WARNING (one tiny aggregate job over the distinct surfaces), so the
    approximation is observable at runtime.
    """
    # pin the distinct-surface table: the band stack, the singleton join,
    # and the final mention mapping all read it — unpinned, each action
    # (bucket count, CC edge materialization, the entity-map count) re-runs
    # the full-mention dropDuplicates shuffle
    surfaces = (
        mentions.select(
            normalize_surface(F.col("surface")).alias("surface_norm")
        )
        .dropDuplicates(["surface_norm"])
        .localCheckpoint(eager=False)
    )
    # ONE band stack shared between the dropped-bucket count and the
    # candidate self-join (the stack is localCheckpoint-pinned inside); the
    # count is one tiny extra aggregate over already-materialized rows
    stacked = _surface_band_stack(surfaces, "surface_norm", shingle_k, 16, 4)
    if max_bucket is not None:
        dropped = (
            stacked.groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("bucket_size"))
            .where(F.col("bucket_size") > max_bucket)
            .agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.coalesce(F.sum("bucket_size"), F.lit(0)).alias("n_rows"),
            )
            .first()
        )
        if dropped["n_buckets"]:
            logger.warning(
                "canonicalize_mentions: max_bucket=%d dropped %d band "
                "bucket(s) covering %d surface-band rows — entity-id "
                "assignment is approximate for those surfaces",
                max_bucket, dropped["n_buckets"], dropped["n_rows"],
            )
    edges = _edges_from_stack(stacked, jaccard_threshold, max_bucket)
    comps = connected_components(edges)
    # singletons (no edges) keep themselves as component; both CC paths
    # label a component with its minimum node, which is its
    # lexicographically smallest normalized surface — the canonical form
    comps_full = (
        surfaces.join(comps, surfaces.surface_norm == comps.node, "left")
        .select(
            "surface_norm",
            F.coalesce(F.col("component"), F.col("surface_norm")).alias("component"),
        )
    )
    m = mentions.withColumn("surface_norm", normalize_surface(F.col("surface")))
    if alias_dict is not None:
        m = link_entities(m, alias_dict)
    else:
        m = m.withColumn("linked_entity_id", F.lit(None).cast("string"))
    # a surface with nothing left after normalization (non-ASCII script,
    # punctuation only) names no entity: null keeps its raw surface
    # downstream instead of merging every such mention into one 'sf:' id
    entity_id = F.when(
        F.length("surface_norm") > 0,
        F.coalesce(
            F.col("linked_entity_id"), F.concat(F.lit("sf:"), F.col("component"))
        ),
    )
    mapped = m.join(comps_full, "surface_norm", "left").select(
        "mention_id", entity_id.alias("entity_id")
    )
    return mapped, comps_full
