"""Mergeable distributed sketches with PORTABLE hashing.

At 10^12 documents the questions a KG-construction pipeline keeps asking
— how many distinct entities/URLs/tokens per group, does this key appear
on the other side of a join, what is a token's approximate frequency,
how similar are two key sets — cannot afford exact shuffles of the full
key population. The classical answers are MERGEABLE SKETCHES computed as
partial aggregates: every map task folds its partition into a tiny
fixed-size state, and one narrow shuffle (carrying sketch-sized rows,
not key-sized rows) merges them. That is exactly Spark's partial-agg
execution model, so each sketch here is a plain ``groupBy().agg()``
whose map-side combine IS the sketch insert — no UDAF, no Python.

Spark ships ``approx_count_distinct`` (HLL++) built in, but its binary
sketch is neither inspectable nor engine-portable. The sketches here use
the repo's md5-integer hashing (operators/dedup.py uses the same
discipline for MinHash/SimHash), so a plain-SQL engine reproduces every
register/cell/bit EXACTLY — which is what lets the driver hash-verify
the approximation *structures*, not just eyeball their outputs.

Implemented (all published algorithms, from their public descriptions):

* HyperLogLog registers/estimate/merge — Flajolet, Fusy, Gandouet,
  Meunier, "HyperLogLog: the analysis of a near-optimal cardinality
  estimation algorithm" (AofA 2007), with the linear-counting
  small-range correction from the paper's §4.
* Count-Min sketch — Cormode & Muthukrishnan, "An improved data stream
  summary: the count-min sketch and its applications" (J. Algorithms
  2005): d×w cell grid, point query = min over d rows.
* Bloom-filter build + semi-join probe — Bloom (CACM 1970); the probe
  is the classic distributed-join prefilter: build from the small side,
  broadcast, drop fat-side rows that cannot match BEFORE the shuffle.
* KMV (k minimum values) distinct/Jaccard — Bar-Yossef et al. (RANDOM
  2002) / Beyer et al. (SIGMOD 2007 "On synopses for distinct-value
  estimation"): the k smallest hash values; union/intersection compose.
* A-ES weighted sampling without replacement — Efraimidis & Spirakis,
  "Weighted random sampling with a reservoir" (IPL 2006): key
  u^(1/w), take the n largest.
* ANF / HyperBall neighborhood function — Palmer, Gibbons, Faloutsos
  "ANF" (KDD 2002) register-BFS as DataFrame rounds (HyperBall, Boldi &
  Vigna WWW 2013, is the same iteration with HLL registers).

Hash discipline shared by all of them: ``h32(key) = first 8 md5 hex
chars as a 32-bit integer`` (DuckDB: ``cast('0x' || substr(md5(k),1,8)
as bigint)``), salted by prefixing the key. 60-bit variant takes 15 hex
chars (stays under the signed-64 ceiling in both engines).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# --------------------------------------------------------------------------
# portable hash primitives
# --------------------------------------------------------------------------

_B32 = 1 << 32


def h32(key: Column, salt: str = "") -> Column:
    """First 8 md5 hex chars of (salt ‖ key) as a 32-bit integer."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8),
        16, 10,
    ).cast("long")


def h60(key: Column, salt: str = "") -> Column:
    """First 15 md5 hex chars as a 60-bit integer — collision-safe key
    identity for KMV (stays below 2^63 in Spark AND DuckDB bigint)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 15),
        16, 10,
    ).cast("long")


def _bit_length(x: Column) -> Column:
    """Portable bit_length(x) for x >= 1: length of the binary string
    (Spark ``conv(x,10,2)``, DuckDB ``bin(x)`` — both render without
    leading zeros). Callers handle x = 0 themselves."""
    return F.length(F.conv(x, 10, 2))


# --------------------------------------------------------------------------
# HyperLogLog
# --------------------------------------------------------------------------


def _hll_register_rho(key: Column, p: int, salt: str = "") -> tuple[Column, Column]:
    """(register, rho) for one key: register = top ``p`` bits of h32,
    rho = 1 + leading zeros of the remaining ``32-p`` bits (Flajolet et
    al. 2007, fig. 2). Integer/string arithmetic only — bit-identical in
    any engine with md5."""
    q = 32 - p
    h = h32(key, salt)
    register = F.floor(h / F.lit(1 << q)).cast("int")
    rem = F.pmod(h, F.lit(1 << q))
    rho = F.when(rem == 0, F.lit(q + 1)).otherwise(
        F.lit(q + 1) - _bit_length(rem)
    ).cast("int")
    return register, rho


def hll_registers(
    df: DataFrame,
    key_col: str,
    p: int = 12,
    group_cols: list[str] | None = None,
    salt: str = "",
) -> DataFrame:
    """Per-group HLL register table → ``(*group_cols, register, rho)``
    with ``rho`` the max over the group's keys (absent registers mean
    rho = 0).

    Scale shape: ONE ``groupBy().max()`` whose map-side partial agg
    bounds each task's shuffle output at ``m = 2^p`` rows per group —
    inserting 10^12 keys ships at most m rows per task, which is the
    whole point of a sketch. Registers are exact integers, so the sketch
    itself (not merely its estimate) is oracle-verifiable.
    """
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18]: {p}")
    group_cols = list(group_cols or [])
    register, rho = _hll_register_rho(F.col(key_col), p, salt)
    return (
        df.select(*group_cols, register.alias("register"), rho.alias("rho"))
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(a: DataFrame, b: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge two register tables (same ``p``): per-register max — the
    HLL merge is lossless, which is why per-partition/per-day sketches
    roll up without touching raw keys."""
    group_cols = list(group_cols or [])
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_alpha(m: int) -> float:
    """Bias constant alpha_m from Flajolet et al. 2007 §4."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_estimate(
    registers: DataFrame,
    p: int,
    group_cols: list[str] | None = None,
    decimals: int = 4,
) -> DataFrame:
    """Cardinality estimate per group from a register table →
    ``(*group_cols, est)``.

    Raw estimate ``alpha_m * m^2 / (sum 2^-rho + zero_registers)``;
    below ``2.5 m`` with empty registers, the linear-counting
    correction ``m * ln(m / V)``. The 2^-rho powers are exact binary
    doubles, so the only cross-engine float surface is one ln/division —
    rounded to ``decimals`` for the oracle comparison.

    Benchmarking footgun: ``.count()`` on this result does NOT time the
    sketch — Catalyst prunes the unused ``est`` column and
    RemoveRedundantAggregates then elides the register aggregate
    underneath, leaving a bare ``distinct(group_cols)`` scan (measured:
    5.7 s vs the real 100 s on 512M rows). Consume the estimates
    (``.agg(F.sum("est"))``, collect, or write) to execute the plan you
    think you are timing.
    """
    m = 1 << p
    group_cols = list(group_cols or [])
    alpha = hll_alpha(m)
    agg = registers.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("__s"),
        F.count(F.lit(1)).alias("__nz"),
    )
    zeros = F.lit(m) - F.col("__nz")
    raw = F.lit(alpha * m * m) / (F.col("__s") + zeros)
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(
        *group_cols, F.round(est, decimals).alias("est")
    )


# --------------------------------------------------------------------------
# Count-Min sketch
# --------------------------------------------------------------------------


def count_min_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Build a d×w Count-Min sketch → ``(row, col, cnt)`` (cells with
    cnt = 0 are absent).

    Each input row contributes to ``depth`` cells (row i, col =
    h32(i ‖ key) mod width); cell counts sum. One explode (depth-way,
    on the already-projected key — not on the fat source rows) + one
    partial-agg groupBy whose shuffle is bounded at d·w rows per task.
    Point query: :func:`count_min_lookup` (min over the d cells — an
    upper bound on the true count, within eps·N with prob 1-delta for
    w = e/eps, d = ln(1/delta); Cormode & Muthukrishnan 2005).
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2: {depth}x{width}")
    w = F.col("__w") if weight_col else F.lit(1).cast("long")
    proj = df.select(
        F.col(key_col).alias("__k"),
        *([F.col(weight_col).cast("long").alias("__w")] if weight_col else []),
    )
    cells = proj.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("row"),
                    F.pmod(h32(F.col("__k"), f"{salt}{i}|"), F.lit(width))
                    .cast("int").alias("col"),
                )
                for i in range(depth)
            ])
        ).alias("__c"),
        w.alias("__n"),
    )
    return (
        cells.select("__c.row", "__c.col", "__n")
        .groupBy("row", "col")
        .agg(F.sum("__n").alias("cnt"))
    )


def count_min_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int,
    width: int,
    salt: str = "",
) -> DataFrame:
    """Point-query estimates for ``keys`` → ``(key_col, est)`` with
    ``est = min over d rows of the key's cell`` (0 when a cell is
    absent). The sketch is tiny (≤ d·w rows) → broadcast join, so
    looking up 10^9 keys is a map-only pass."""
    probes = keys.select(key_col).distinct()
    probe_cells = probes.select(
        key_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("row"),
                    F.pmod(h32(F.col(key_col), f"{salt}{i}|"), F.lit(width))
                    .cast("int").alias("col"),
                )
                for i in range(depth)
            ])
        ).alias("__c"),
    ).select(key_col, "__c.row", "__c.col")
    joined = probe_cells.join(
        F.broadcast(sketch), ["row", "col"], "left"
    ).select(key_col, F.coalesce("cnt", F.lit(0)).alias("__cell"))
    return joined.groupBy(key_col).agg(F.min("__cell").alias("est"))


# --------------------------------------------------------------------------
# Bloom filter semi-join prefilter
# --------------------------------------------------------------------------

_WORD_BITS = 32  # 1 << 31 fits signed-64 in Spark and DuckDB alike


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 1 << 20, k: int = 3,
    salt: str = "",
) -> DataFrame:
    """Build-side Bloom filter → ``(word_idx, word)``: bit positions
    ``h32(j ‖ key) mod m_bits`` for j < k, packed 32 bits per word via
    ``bit_or`` (a partial aggregate — each task ships at most
    m_bits/32 words). Words are plain integers → engine-portable."""
    if k < 1 or m_bits < _WORD_BITS:
        raise ValueError(f"need k >= 1 and m_bits >= {_WORD_BITS}")
    pos = df.select(
        F.explode(
            F.array(*[
                F.pmod(h32(F.col(key_col), f"{salt}{j}|"), F.lit(m_bits))
                for j in range(k)
            ])
        ).alias("__pos")
    )
    return (
        pos.select(
            F.floor(F.col("__pos") / _WORD_BITS).cast("long").alias("word_idx"),
            F.pmod(F.col("__pos"), F.lit(_WORD_BITS)).cast("int").alias("__b"),
        )
        # python F.shiftleft wants a literal shift; SQL shiftleft takes a column
        .select("word_idx", F.expr("shiftleft(1L, __b)").alias("__bit"))
        .groupBy("word_idx")
        .agg(F.bit_or("__bit").alias("word"))
    )


def bloom_probe(
    df: DataFrame, key_col: str, bloom: DataFrame,
    m_bits: int = 1 << 20, k: int = 3, salt: str = "",
) -> DataFrame:
    """Keep rows of ``df`` whose key passes the filter (all ``k`` bits
    set). No false negatives; false-positive rate ≈ (1-e^{-kn/m})^k.

    THE 100 TB pattern this exists for: the filter is words-sized
    (m/32 rows) → ``broadcast`` joins, so the probe is a map-only
    prefilter of the fat side BEFORE its shuffle toward the real join —
    the DataFrame spelling of Spark's own runtime-filter/DPP idea, but
    explicit, portable, and usable across jobs (write the words table,
    reuse it tomorrow)."""
    # materialize the words once: the k broadcast builds would otherwise
    # each re-execute the filter's groupBy (k aggregations of the build
    # side instead of one)
    bloom = bloom.localCheckpoint(eager=False)
    out = df
    for j in range(k):
        pos = F.pmod(h32(F.col(key_col), f"{salt}{j}|"), F.lit(m_bits))
        b = bloom.select(
            F.col("word_idx").alias(f"__wi{j}"), F.col("word").alias(f"__w{j}")
        )
        out = (
            out.withColumn(f"__widx{j}", F.floor(pos / _WORD_BITS).cast("long"))
            .withColumn(f"__b{j}", F.pmod(pos, F.lit(_WORD_BITS)).cast("int"))
            .join(F.broadcast(b), F.col(f"__widx{j}") == F.col(f"__wi{j}"), "left")
            .where(
                F.col(f"__w{j}").isNotNull()
                & (F.expr(f"shiftleft(1L, __b{j}) & __w{j}") != 0)
            )
            .drop(f"__widx{j}", f"__b{j}", f"__wi{j}", f"__w{j}")
        )
    return out


# --------------------------------------------------------------------------
# KMV (k minimum values) distinct-count / Jaccard sketch
# --------------------------------------------------------------------------


def kmv_sketch(df: DataFrame, key_col: str, k: int = 256, salt: str = "") -> DataFrame:
    """The ``k`` smallest distinct 60-bit key hashes → ``(h)``.

    ``distinct`` is a partial-agg exchange on the hash; the global
    bottom-k is Spark's sort+limit (TakeOrderedAndProject — per-partition
    top-k then one k-sized merge, never a full sort). Mergeable: union
    two sketches and re-take the bottom k."""
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    return (
        df.select(h60(F.col(key_col), salt).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_estimate(sketch: DataFrame, k: int, decimals: int = 4) -> DataFrame:
    """Distinct-count estimate ``(k-1) / U_(k)`` where ``U_(k)`` is the
    k-th smallest hash normalized to (0,1] (Beyer et al. 2007, the
    unbiased basic estimator) → one row ``(n_seen, est)``. If the
    sketch holds fewer than k hashes the count is exact (= n_seen)."""
    agg = sketch.agg(
        F.count(F.lit(1)).alias("n_seen"), F.max("h").alias("__kth")
    )
    norm = (F.col("__kth").cast("double") + 1.0) / F.lit(float(1 << 60))
    est = F.when(F.col("n_seen") < k, F.col("n_seen").cast("double")).otherwise(
        F.lit(float(k - 1)) / norm
    )
    return agg.select("n_seen", F.round(est, decimals).alias("est"))


def kmv_jaccard(
    a: DataFrame, b: DataFrame, k: int, decimals: int = 4
) -> DataFrame:
    """Jaccard similarity of two key sets from their KMV sketches →
    one row ``(n_union_sketch, n_shared, jaccard_est)``: bottom-k of the
    union sketch, fraction also present in both inputs (Beyer et al.
    2007 §5 — the sketches compose without re-reading the data)."""
    # each input sketch feeds the union AND the intersection, and the
    # union sketch feeds the semi-join AND its own count — un-pinned,
    # every consumer re-ran the upstream sketch aggregation (6 source
    # scans on the gate). All three frames are ≤ k rows: pin them (lazy).
    a = a.localCheckpoint(eager=False)
    b = b.localCheckpoint(eager=False)
    u = (
        a.select("h").unionByName(b.select("h")).distinct()
        .orderBy("h").limit(k)
        .localCheckpoint(eager=False)
    )
    both = a.select("h").intersect(b.select("h"))
    shared = u.join(both, "h", "left_semi")
    return u.agg(F.count(F.lit(1)).alias("n_union_sketch")).crossJoin(
        shared.agg(F.count(F.lit(1)).alias("n_shared"))
    ).select(
        "n_union_sketch",
        "n_shared",
        F.round(
            F.col("n_shared") / F.col("n_union_sketch"), decimals
        ).alias("jaccard_est"),
    )


# --------------------------------------------------------------------------
# A-ES weighted sampling without replacement
# --------------------------------------------------------------------------


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement of ``n`` rows:
    Efraimidis-Spirakis A-ES keys ``u^(1/w)`` with ``u`` the md5-uniform
    of the row key — take the ``n`` largest. Same key+salt → same
    sample on any engine/partitioning (md5 arithmetic identical to the
    DuckDB oracle); inclusion probability proportional to weight.

    Scale shape: a projection plus sort+limit (TakeOrderedAndProject:
    per-partition bottom-n, one n-sized merge). Rows with weight <= 0
    never sample."""
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    u = (h32(F.col(key_col), salt) + 1.0) / F.lit(float(_B32))
    akey = F.pow(u, 1.0 / F.col(weight_col).cast("double"))
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("__akey", akey)
        .orderBy(F.col("__akey").desc(), F.col(key_col).asc())
        .limit(n)
        .drop("__akey")
    )


# --------------------------------------------------------------------------
# ANF / HyperBall neighborhood function
# --------------------------------------------------------------------------


def anf_registers(
    edges: DataFrame,
    rounds: int,
    p: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    salt: str = "",
) -> DataFrame:
    """Per-node HLL register table of the ``rounds``-hop OUT-neighborhood
    (node itself included, radius 0) → ``(node, register, rho)``.

    Palmer et al.'s ANF (KDD 2002) / HyperBall (Boldi-Vigna 2013):
    seed every node with the sketch of {itself}; each round, union
    (per-register max) the sketches of out-neighbors into the node's
    own. ``rounds`` DataFrame rounds, each ONE join (edges ⋈ current
    registers on dst) + ONE groupBy-max — per-node state is ≤ 2^p rows
    regardless of neighborhood size, which is the entire trick: exact
    neighborhood sets explode combinatorially, register tables don't.
    Registers stay exact integers → the radius-t table is
    oracle-verifiable by unrolling t rounds in SQL.
    Feed the result to :func:`hll_estimate` (group_cols=["node"]) for
    per-node ball sizes; sum over nodes = the neighborhood function
    N(t), whose saturation radius is the effective-diameter estimate.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0: {rounds}")
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    register, rho = _hll_register_rho(F.col("node"), p, salt)
    cur = nodes.select(
        "node", register.alias("register"), rho.alias("rho")
    )
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    ).distinct()
    for _ in range(rounds):
        from_nbrs = e.join(
            cur, e["__d"] == cur["node"]
        ).select(F.col("__s").alias("node"), "register", "rho")
        cur = (
            cur.unionByName(from_nbrs)
            .groupBy("node", "register")
            .agg(F.max("rho").alias("rho"))
        )
        cur = cur.localCheckpoint(eager=False)
    return cur


# --------------------------------------------------------------------------
# Equi-depth quantiles via a fixed-width histogram (two bounded passes)
# --------------------------------------------------------------------------


def histogram_quantiles(
    df: DataFrame,
    col: str,
    qs: list[float],
    bins: int = 4096,
    decimals: int = 6,
) -> DataFrame:
    """Approximate quantiles → ``(q, value)`` with deterministic error
    ``<= range/bins``: pass 1 takes min/max, pass 2 builds a fixed-width
    ``bins``-cell histogram (a partial-agg groupBy bounded at ``bins``
    rows per task); the quantile is the upper edge of the first bin
    whose cumulative count reaches ``ceil(q * n)``.

    The ANALYZE-statistics shape: Spark's own ``approx_quantile``
    (Greenwald-Khanna) is neither inspectable nor engine-portable; this
    histogram is both — integer bin counts + one closed-form edge
    expression, so the oracle reproduces the exact output. Two scans of
    one column, shuffles bounded at ``bins`` rows, no sort anywhere
    (a global sort at 10^12 rows is the thing this avoids).
    """
    if not qs or not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"each q must be in (0, 1]: {qs}")
    if bins < 2:
        raise ValueError(f"bins must be >= 2: {bins}")
    c = F.col(col).cast("double")
    mm = df.agg(
        F.min(c).alias("mn"), F.max(c).alias("mx"), F.count(c).alias("n")
    ).collect()[0]
    n = int(mm["n"])
    if n == 0:
        raise ValueError(f"no non-null values in {col!r}")
    mn, mx = float(mm["mn"]), float(mm["mx"])
    spark = df.sparkSession
    if mx == mn:
        return local_frame(
            spark, [(float(q), round(mn, decimals)) for q in sorted(qs)],
            "q double, value double",
        )
    width = (mx - mn) / bins
    # clamp x = mx into the last bin
    b = F.least(
        F.floor((c - F.lit(mn)) / F.lit(width)).cast("int"), F.lit(bins - 1)
    )
    hist = (
        df.where(c.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bin"))
    )  # histogram is <= bins rows: the single-reducer window is trivial
    targets = local_frame(
        spark, [(float(q), int(math.ceil(q * n))) for q in sorted(qs)],
        "q double, target long",
    )
    picked = (
        targets.join(cum, cum["cum"] >= targets["target"])
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
    )
    edge = F.lit(mn) + (F.col("bin") + 1) * F.lit(width)
    return picked.select(
        "q", F.round(edge, decimals).alias("value")
    ).orderBy("q")


# --------------------------------------------------------------------------
# Neighborhood function / effective diameter from ANF registers
# --------------------------------------------------------------------------


def neighborhood_function(
    edges: DataFrame,
    max_rounds: int,
    p: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    salt: str = "",
    decimals: int = 4,
) -> DataFrame:
    """ANF neighborhood function N(t) for t = 0..max_rounds →
    ``(t, nf)``: the sum over nodes of the HLL ball-size estimates at
    radius t (Palmer et al. 2002 §3). Per-node estimates are rounded to
    ``decimals`` then summed through DECIMAL(18,6) — exact and order-
    independent, so the whole curve is oracle-reproducible.

    Cost: ``max_rounds`` rounds of ONE join + ONE groupBy-max each
    (register state <= 2^p rows per node), plus one m-row aggregation
    per round for the curve point. The curve points are 1-row aggregate
    frames UNIONED into the result — no per-round driver collect: the
    caller's single action materializes each round's (lazily
    checkpointed) register table exactly once and every curve branch
    reads the cached blocks. Feed :func:`effective_diameter` for the
    90%-saturation radius."""
    register, rho = _hll_register_rho(F.col("node"), p, salt)
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    cur = nodes.select(
        "node", register.alias("register"), rho.alias("rho")
    ).localCheckpoint(eager=False)
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    ).distinct().localCheckpoint(eager=False)

    def _nf_df(regs: DataFrame, t: int) -> DataFrame:
        est = hll_estimate(regs, p=p, group_cols=["node"], decimals=decimals)
        return est.agg(
            F.lit(t).cast("int").alias("t"),
            F.sum(F.col("est").cast("decimal(18,6)"))
            .cast("double").alias("nf"),
        )

    out = _nf_df(cur, 0)
    for t in range(1, max_rounds + 1):
        from_nbrs = e.join(cur, e["__d"] == cur["node"]).select(
            F.col("__s").alias("node"), "register", "rho"
        )
        cur = (
            cur.unionByName(from_nbrs)
            .groupBy("node", "register")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(_nf_df(cur, t))
    # exact schema of the former createDataFrame(rows, "t int, nf double")
    # form, nullability included
    from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                                   StructType)

    return out.to(StructType([
        StructField("t", IntegerType(), True),
        StructField("nf", DoubleType(), True),
    ]))


def effective_diameter(nf_rows: list[tuple[int, float]], fraction: float = 0.9) -> float:
    """Interpolated effective diameter: the smallest t where N(t)
    reaches ``fraction`` of N(max), linearly interpolated within the
    step (the standard ANF/HyperBall reporting convention). Driver-side
    arithmetic over the (tiny) curve."""
    pts = sorted(nf_rows)
    target = fraction * pts[-1][1]
    prev_t, prev_v = pts[0]
    if prev_v >= target:
        return float(prev_t)
    for t, v in pts[1:]:
        if v >= target:
            if v == prev_v:
                return float(t)
            return prev_t + (target - prev_v) / (v - prev_v) * (t - prev_t)
        prev_t, prev_v = t, v
    return float(pts[-1][0])


# --------------------------------------------------------------------------
# Z-order (Morton) clustering for multi-dimensional file skipping
# --------------------------------------------------------------------------


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Morton key interleaving the low ``bits`` bits of each column
    (col 0 gets the least-significant lane). Inputs must already be
    non-negative integers in [0, 2^bits); callers normalize (rank,
    bucket, or clamp) first.

    Plain Catalyst shift/mask arithmetic — engine-portable, so the
    clustering layout a job produced is independently checkable. Total
    key width = len(cols) * bits <= 62."""
    d = len(cols)
    if d < 1:
        raise ValueError("need at least one column")
    if bits < 1 or d * bits > 62:
        raise ValueError(f"need 1 <= bits and {d} * bits <= 62: {bits}")
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        x = c.cast("long")
        for i in range(bits):
            # bit i of column j -> key bit (i * d + j)
            key = key + F.pmod(
                F.floor(x / F.lit(1 << i)).cast("long"), F.lit(2)
            ) * F.lit(1 << (i * d + j))
    return key


def cluster_by_zorder(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    partitions: int = 64,
    key_name: str = "__zkey",
) -> DataFrame:
    """Range-partition + sort rows by their Morton key so each output
    file covers a small hyper-rectangle of ALL ``cols`` at once — the
    Delta/Iceberg ``OPTIMIZE ZORDER BY`` layout, as a plain DataFrame
    transform for parquet sinks.

    Why it matters at 100 TB: parquet footers carry per-file min/max
    per column; a linear sort gives pruning on ONE leading column only,
    while Z-ordering bounds the min/max RANGE of every interleaved
    column in every file, so selective filters on ANY of them skip
    most files. One range exchange + in-partition sort — the same cost
    as a plain sorted write. The key column is retained (``key_name``)
    for layout verification; drop it before publishing if unwanted.
    """
    keyed = df.withColumn(key_name, zorder_key([F.col(c) for c in cols], bits))
    return keyed.repartitionByRange(partitions, key_name).sortWithinPartitions(
        key_name
    )


def count_min_join_size(
    a: DataFrame, b: DataFrame, depth: int
) -> DataFrame:
    """Equi-join cardinality estimate from two Count-Min sketches built
    with the SAME (depth, width, salt) → one row ``(est)``: the sketch
    inner product ``min over rows of Σ_col a·b`` (Cormode-Muthukrishnan
    2005 §4.2) upper-bounds ``Σ_key cnt_a(key)·cnt_b(key)`` — the join
    size — within eps·N_a·N_b w.h.p.

    The planning primitive sketches exist for at warehouse scale:
    deciding salting/broadcast strategy for a join WITHOUT scanning
    either fat input again — two d×w tables join on (row, col), one
    d-row aggregate, driver never sees a key.

    Sketch cells are SPARSE (zero cells are absent), so a row with no
    overlapping cells has dot product 0 — the min must see that 0, not
    skip the row: the inner join alone returned NULL for disjoint
    sketches and overestimated whenever any single row had a zero dot
    (code-review r5 #6). Every row id 0..depth-1 is therefore seeded
    with a 0 default before the min."""
    prod = a.join(
        b.withColumnRenamed("cnt", "__cnt_b"), ["row", "col"]
    ).groupBy("row").agg(
        F.sum(F.col("cnt") * F.col("__cnt_b")).alias("__dot")
    )
    rows = a.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("row")
    )
    return (
        rows.join(prod, "row", "left")
        .select(F.coalesce("__dot", F.lit(0).cast("long")).alias("__dot"))
        .agg(F.min("__dot").alias("est"))
    )
