"""Z-order (Morton) clustering for multi-column data skipping.

Range clustering on ONE key gives that key tight per-file min/max
stats and the manifest prunes beautifully — on that key alone. A
second predicate column sees every file spanning its full domain and
prunes nothing. Interleaving the bits of several columns' normalized
ranks (the Morton curve) trades a little per-column tightness for
locality in ALL of them: a file covering a contiguous Z-range covers a
small hyper-rectangle, so min/max stats prune on EVERY interleaved
column — the Delta ``OPTIMIZE ZORDER BY`` idiom, here as a plain
column expression plus a seam-routed rewrite.

Scale posture: the Z-key is pure Column arithmetic (shift/mask/or —
whole-stage codegen, no UDF), normalization bounds come from ONE
narrow min/max aggregate (or caller-supplied at 100 TB, where bounds
are usually known), and the rewrite is a standard
``repartitionByRange`` + ``snapshot_rewrite`` — the same machinery
every other compaction uses. Linear rank scaling assumes roughly
uniform value spread between min and max; heavily skewed columns keep
correctness (the stats are still true bounds) but prune less —
quantile-based ranks would need a global sample and are not worth the
pass until a real workload shows the need.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from redis_lsm_timeseries_spark.errors import ValidationError

#: bits of Z-key per interleaved column; 3 cols x 16 bits = 48-bit
#: key, comfortably inside a long
MAX_TOTAL_BITS = 60


#: boundary cap for string-ranked columns — 255 boundaries = an 8-bit
#: effective rank, plenty of locality for tag-like columns while the
#: rank expression (one literal-array fold) stays codegen-friendly
MAX_STRING_BOUNDARIES = 255


def zorder_key(
    cols: list[str],
    bounds: dict[str, tuple],
    bits: int = 16,
) -> Column:
    """Morton key over ``cols``: each column maps into a ``bits``-bit
    integer rank and the ranks' bits interleave round-robin (column 0
    owns bit positions 0, n, 2n, ...). NULLs rank 0 (they sort first,
    like a NULLS FIRST cluster); out-of-bounds values clamp — the key
    is a clustering aid, never a filter.

    Per-column rank, by the shape of ``bounds[col]``:

    - ``(lo, hi)`` numeric tuple: linear scaling between the bounds
      (assumes roughly uniform spread; skew keeps correctness, prunes
      less);
    - ``{"kind": "ts"|"d", "lo": .., "hi": ..}``: a temporal column —
      linear scaling over its epoch numeric (micros for timestamps,
      days for dates), so real TimestampType/DateType columns cluster
      without the caller re-encoding them;
    - ``{"boundaries": [sorted strings]}``: the rank is how many
      boundaries the value is >= — a range-partition rank over
      sampled boundaries (the Delta ``range_partition_id`` idiom for
      non-numeric ZORDER columns), computed as one literal-array fold
      (``F.aggregate`` — JVM-side, no UDF). Locality is as good as
      the boundary sample; correctness never depends on it."""
    n = len(cols)
    if n < 2:
        raise ValidationError(
            "zorder_key needs >= 2 columns (use repartitionByRange "
            "for one)"
        )
    if n * bits > MAX_TOTAL_BITS:
        raise ValidationError(
            f"zorder_key: {n} cols x {bits} bits exceeds "
            f"{MAX_TOTAL_BITS} total"
        )
    ranks = []
    top = (1 << bits) - 1
    for c in cols:
        bnd = bounds[c]
        if isinstance(bnd, dict) and bnd.get("kind") in ("ts", "d"):
            # temporal: linear scaling over the epoch numeric
            lo_f, hi_f = float(bnd["lo"]), float(bnd["hi"])
            span = hi_f - lo_f
            if span <= 0:
                ranks.append(F.lit(0).cast("long"))
                continue
            scaled = (
                (_temporal_rank_expr(c, bnd["kind"]) - F.lit(lo_f))
                / F.lit(span)
                * F.lit(float(top))
            )
            rank = F.least(
                F.lit(top).cast("long"),
                F.greatest(F.lit(0).cast("long"), scaled.cast("long")),
            )
            ranks.append(F.coalesce(rank, F.lit(0).cast("long")))
            continue
        if isinstance(bnd, dict):
            bl = list(bnd.get("boundaries") or [])
            if not bl:
                ranks.append(F.lit(0).cast("long"))
                continue
            if len(bl) > top:
                bl = bl[:: len(bl) // top + 1]
            arr = F.array(*[F.lit(b) for b in bl])
            cnt = F.aggregate(
                arr,
                F.lit(0).cast("long"),
                lambda acc, b: acc
                + F.when(F.col(c) >= b, F.lit(1))
                .otherwise(F.lit(0))
                .cast("long"),
            )
            # scale the boundary count (0..len(bl)) to the full
            # bits-wide domain — an unscaled rank would leave this
            # column's high interleave bits constant and let the
            # other dimensions dominate the curve entirely
            scaled = (
                cnt.cast("double")
                / F.lit(float(len(bl)))
                * F.lit(float(top))
            ).cast("long")
            ranks.append(F.least(F.lit(top).cast("long"), scaled))
            continue
        lo, hi = bnd
        lo_f, hi_f = float(lo), float(hi)
        span = hi_f - lo_f
        if span <= 0:
            ranks.append(F.lit(0).cast("long"))
            continue
        scaled = (
            (F.col(c).cast("double") - F.lit(lo_f))
            / F.lit(span)
            * F.lit(float(top))
        )
        rank = F.least(
            F.lit(top).cast("long"),
            F.greatest(F.lit(0).cast("long"), scaled.cast("long")),
        )
        ranks.append(F.coalesce(rank, F.lit(0).cast("long")))
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, rank in enumerate(ranks):
            bit = F.shiftright(rank, i).bitwiseAND(F.lit(1).cast("long"))
            key = key.bitwiseOR(F.shiftleft(bit, i * n + j))
    return key


def string_boundaries(
    df: DataFrame, col: str, max_boundaries: int = MAX_STRING_BOUNDARIES
) -> list[str]:
    """Sorted range boundaries for a string column's Z-order rank:
    up to 10k distinct values collected (bounded driver-side), then
    thinned to ``max_boundaries`` evenly spaced picks. Not a uniform
    sample at scale — a skewed distinct set degrades LOCALITY, never
    correctness (stats stay true bounds either way); (tag, time) style
    columns have modest cardinality where this is exact."""
    vals = sorted(
        r[0]
        for r in df.select(col)
        .where(F.col(col).isNotNull())
        .distinct()
        .limit(10_000)
        .collect()
    )
    if len(vals) <= max_boundaries:
        return vals
    step = len(vals) / max_boundaries
    return [vals[int(i * step)] for i in range(max_boundaries)]


def _temporal_rank_expr(col: str, kind: str) -> Column:
    """Numeric Column a temporal column ranks by: epoch micros for
    timestamps (NTZ cast through the session clock — a uniform shift,
    harmless for a clustering rank), days-since-epoch for dates."""
    if kind == "ts":
        return F.unix_micros(
            F.col(col).cast("timestamp")
        ).cast("double")
    return F.datediff(
        F.col(col), F.lit("1970-01-01").cast("date")
    ).cast("double")


def column_bounds(df: DataFrame, cols: list[str]) -> dict[str, tuple]:
    """Per-column normalization bounds for ``zorder_key`` when the
    caller doesn't already know them: numeric columns get (min, max)
    from ONE narrow aggregate; temporal columns rank by their epoch
    numeric (``{"kind": "ts"|"d", "lo": .., "hi": ..}``, same
    aggregate); string columns get sampled range boundaries
    (``{"boundaries": [...]}`` — note this costs one extra
    distinct+limit pass per string column; at scale pass caller-known
    ``bounds`` instead, as the zorder entry points document). An
    all-NULL column gets (0, 0): its rank is constant and it
    contributes nothing to the interleave."""
    kinds: dict[str, str] = {}
    for f in df.schema.fields:
        if f.name not in cols:
            continue
        tn = f.dataType.typeName()
        if tn == "string":
            kinds[f.name] = "s"
        elif tn in ("timestamp", "timestamp_ntz"):
            kinds[f.name] = "ts"
        elif tn == "date":
            kinds[f.name] = "d"
    out: dict = {}
    agg_cols = [c for c in cols if kinds.get(c) != "s"]
    if agg_cols:
        aggs = []
        for c in agg_cols:
            src = (
                _temporal_rank_expr(c, kinds[c])
                if c in kinds
                else F.col(c)
            )
            aggs += [
                F.min(src).alias(f"_lo_{c}"),
                F.max(src).alias(f"_hi_{c}"),
            ]
        r = df.agg(*aggs).first()
        for c in agg_cols:
            lo, hi = r[f"_lo_{c}"], r[f"_hi_{c}"]
            if lo is None:
                lo = hi = 0
            if c in kinds:
                out[c] = {"kind": kinds[c], "lo": lo, "hi": hi}
            else:
                out[c] = (lo, hi)
    for c in cols:
        if kinds.get(c) == "s":
            out[c] = {"boundaries": string_boundaries(df, c)}
    return out


def zorder_rewrite(
    host,
    path: str,
    cols: list[str],
    target_files: int,
    bits: int = 16,
    bounds: dict[str, tuple] | None = None,
    commit=None,
) -> None:
    """Re-cluster the table at ``path`` along the Morton curve of
    ``cols`` — a compaction variant: content unchanged, file layout
    rewritten so per-file stats prune on every listed column. Commits
    through ``snapshot_rewrite`` (conflict-checked, crash-safe,
    retention-margin vacuum). Numeric columns rank by linear scaling;
    STRING columns rank by sampled range boundaries (r12 — the
    (tag, time) pair this engine's own predicates live on), see
    ``zorder_key``."""
    from redis_lsm_timeseries_spark.commit import ManifestCommit

    from redis_lsm_timeseries_spark.operators.merge import (
        partition_cols_of,
    )

    commit = commit if commit is not None else ManifestCommit()
    cur = commit.read_table(host, path, None)
    for c in cols:
        if c not in cur.columns:
            raise ValidationError(f"zorder_rewrite: no column {c!r}")
    b = bounds if bounds is not None else column_bounds(cur, cols)
    pcols = partition_cols_of(commit.member_files(host, path) or [])
    clustered = (
        cur.withColumn("_zkey", zorder_key(cols, b, bits))
        .repartitionByRange(max(1, int(target_files)), "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )

    def write(tmp):
        w = clustered.write.mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)
        w.parquet(tmp)

    if isinstance(commit, ManifestCommit):
        # content-identical reorder: change feeds skip it outright
        commit.snapshot_rewrite(
            host, path, write, change={"kind": "preserve"}
        )
    else:
        commit.snapshot_rewrite(host, path, write)


#: app-map key holding the stage tokens of files written by Z-order
#: passes. Every manifest file's basename is ``{token}-...`` (the
#: staging commit's token), so "is this file clustered?" is an exact
#: basename-prefix test — immune to concurrent appends racing into
#: the pass's own commit, which a version-number cursor would
#: mis-mark as clustered forever.
ZORDER_TOKENS = "zorder:tokens"


def _file_token(rel: str) -> str:
    return rel.rsplit("/", 1)[-1].split("-", 1)[0]


def zorder_compact(
    host,
    path: str,
    cols: list[str],
    bits: int = 16,
    bounds: dict[str, tuple] | None = None,
    min_files: int = 2,
    target_files: int | None = None,
    commit=None,
    scope_files: set[str] | None = None,
) -> int:
    """Incremental OPTIMIZE: Z-order-cluster only the files NOT
    written by a previous pass — the steady-state maintenance loop
    for a table that keeps ingesting. The cursor is the list of stage
    tokens this job's own commits produced, kept in the ``app`` map
    ATOMICALLY with each pass (tokens of files no longer current are
    pruned from the list, so it stays bounded by the live clustered
    file count). Files rewritten by other maintenance lose their
    clustered token and get re-clustered next pass — the correct
    posture, since the other job decided their layout.

    Returns the number of files clustered this pass (0 = fewer than
    ``min_files`` pending; nothing committed). Concurrent appends of
    new files survive the pass untouched (they are next pass's tail);
    a concurrent rewrite of a tail file raises
    ``RewriteConflictError`` — re-run on fresh state.

    ``bounds`` should be the caller's stable domain bounds at scale:
    per-pass recomputed bounds (the default, one narrow aggregate
    over the tail) shift the curve between passes, which costs
    cross-file tightness but never correctness — and per-file stats
    stay true bounds regardless."""
    from redis_lsm_timeseries_spark.commit import ManifestCommit

    from redis_lsm_timeseries_spark.operators.merge import (
        partition_cols_of,
    )

    commit = commit if commit is not None else ManifestCommit()
    current = commit.member_files(host, path)
    if current is None:
        raise ValidationError(
            f"zorder_compact: {path!r} is not manifest-managed"
        )
    tokens = set(commit.read_app_meta(host, path).get(ZORDER_TOKENS, []))
    # scope_files (r17, predicate-scoped OPTIMIZE): out-of-scope tail
    # files are simply not this pass's work — they keep no token, so
    # a later unscoped (or differently-scoped) pass picks them up
    tail = [
        f
        for f in current
        if _file_token(f) not in tokens
        and (scope_files is None or f in scope_files)
    ]
    if len(tail) < max(1, int(min_files)):
        return 0

    root, member = commit._resolve(host, path)
    # schema-mapped members (r14): callers name LOGICAL columns; the
    # files are scanned and rewritten under their immutable PHYSICAL
    # names (widen-forced, so mixed-width generations cluster in one
    # pass), and the z-key is computed on the physical translation —
    # the rewrite stays content-identical in the logical view.
    smeta = commit.schema_meta(host, path)
    # DV-aware subset scan (r14): clustering rewrites materialize any
    # deletion vectors on the tail — raw bytes would resurrect rows
    plan: dict = {}
    cur = commit.scan_member_subset(
        host, path, tail, logical=False, plan=plan
    )
    if smeta:
        logical = commit._logical_view(cur, smeta)
        pmap = smeta.get("map", {})
        zcols = []
        for c in cols:
            if c not in logical.columns:
                raise ValidationError(f"zorder_compact: no column {c!r}")
            zcols.append(pmap.get(c, c))
    else:
        for c in cols:
            if c not in cur.columns:
                raise ValidationError(f"zorder_compact: no column {c!r}")
        zcols = list(cols)
    if bounds is not None:
        # caller bounds are keyed by the LOGICAL names they passed
        pmap = smeta.get("map", {}) if smeta else {}
        b = {pmap.get(k, k): v for k, v in bounds.items()}
    else:
        b = column_bounds(cur, zcols)
    n = target_files if target_files is not None else len(tail)
    pcols = partition_cols_of(tail)  # preserve hive layout
    clustered = (
        cur.withColumn("_zkey", zorder_key(zcols, b, bits))
        .repartitionByRange(max(1, int(n)), "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )
    kept_tokens = sorted(
        {_file_token(f) for f in current if f not in set(tail)}
        & tokens
    )

    def cursor(new_files: list[str]) -> dict:
        return {
            ZORDER_TOKENS: sorted(
                set(kept_tokens) | {_file_token(f) for f in new_files}
            )
        }

    def write(tmp):
        w = clustered.write.mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)
        w.parquet(tmp)

    # content-identical reorder: change feeds skip it outright.
    # plan_dv (r15): CAS each tail file's DV against the planning scan
    # — a concurrent restat would otherwise be silently discarded
    commit.rewrite_files(
        host, path, tail, write, app_meta=cursor,
        change={"kind": "preserve"}, plan_dv=plan["dv"],
    )
    return len(tail)
