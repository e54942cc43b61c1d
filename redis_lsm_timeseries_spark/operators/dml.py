"""Predicate-level UPDATE / DELETE on managed tables (r16, VERDICT
r15 #9's substrate): the Delta ``UPDATE t SET ... WHERE ...`` /
``DELETE FROM t WHERE ...`` semantics over the manifest commit —
file-granular copy-on-write, row-level CDF, optimistic conflicts.

Where the key-based family (``operators/merge``) prunes its file set
from the manifest STATS envelope of the key values, an arbitrary SQL
predicate may have no such envelope — so these operators derive the
affected set from the DATA: one DV-aware scan with the predicate
pushed into the parquet layer (row-group min/max skipping applies)
marks exactly the files holding matched rows via ``_metadata`` row
positions, and only those files rewrite. When the predicate's
top-level AND conjuncts ARE envelope-expressible (``col <op>
literal`` / ``BETWEEN``), ``_predicate_envelope`` extracts a
superset-safe stats envelope first: the scan runs over the
manifest-pruned candidates only (a time-band DELETE on a 100 TB
member reads O(band files)), and the conflict guard relaxes to the
envelope — concurrent appends provably outside it land untouched,
the same WriteSerializable posture key-enveloped merges have. With
no envelope, the conflict posture is Serializable: a concurrent
append COULD hold matching rows, so the commit conflicts with ANY
file appended between planning and commit and the retry re-plans.

Reference parity note: the reference engine has no row mutation at
all (append-only LSM, ``index.js``); this surface exists for the
lakehouse tier the survey mandates, mirroring the Delta DML
contract.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from redis_lsm_timeseries_spark.errors import ValidationError
from redis_lsm_timeseries_spark.operators.merge import (
    DV_AUTO_MAX_FRACTION,
    _affected_df,
    _apply_dv_delete,
    _cdf_sized,
    _clustered_write,
    _compose_guards,
    _envelope_guard,
    _mapping_ctx,
    _physical_out,
    partition_cols_of,
)


@dataclass
class DmlStats:
    """Stats for a predicate UPDATE/DELETE. ``rows_affected`` is
    always the real matched-row count. The file counts are -1 on a
    non-manifest (directory-mode) backend: the fallback is a
    whole-table snapshot rewrite with no per-file accounting (ADVICE
    r16 — the sentinel is documented rather than masquerading as a
    count)."""

    files_rewritten: int
    files_total: int
    rows_affected: int


def _any_append_guard(commit, member: str, planned: set[str]):
    """Entry guard for predicate DML: conflict on ANY file added to
    the member since planning (an arbitrary predicate has no stats
    envelope that could prove a new file unreachable). Files already
    in the planning snapshot never trip it, so unrelated members and
    metadata commits land freely."""
    from redis_lsm_timeseries_spark.errors import RewriteConflictError

    def guard(prev):
        hits = [
            f
            for f in prev.get("tables", {}).get(member, [])
            if f not in planned
        ]
        if hits:
            raise RewriteConflictError(
                f"predicate UPDATE/DELETE conflicts with {len(hits)} "
                f"file(s) appended since planning (first: {hits[0]}); "
                "the predicate could match their rows — retry on "
                "fresh state"
            )

    return guard


import re as _re

_CMP_RE = _re.compile(
    r"^\s*(\w+)\s*(=|==|<=|>=|<|>)\s*(.+?)\s*$", _re.S
)
_BETWEEN_RE = _re.compile(
    r"^\s*(\w+)\s+BETWEEN\s+(.+?)\s+AND\s+(.+?)\s*$", _re.I | _re.S
)
_IN_RE = _re.compile(
    r"^\s*(\w+)\s+IN\s*\((.+)\)\s*$", _re.I | _re.S
)
_NOT_IN_RE = _re.compile(r"^\s*\w+\s+NOT\s+IN\b", _re.I)

#: an IN list longer than this contributes no envelope — the
#: per-file membership check is driver-side bisect (cheap), but the
#: parsed literal set itself should stay bounded in the log entry
#: guard; mirrors merge's KEY_SET_MAX posture.
IN_SET_MAX = 10_000


def _lit(text: str):
    """Parse a SQL literal (int, float, 'string', Spark's
    double-quoted "string"); None = not one."""
    t = text.strip()
    if (
        len(t) >= 2
        and t[0] == t[-1]
        and t[0] in ("'", '"')
        and t[0] not in t[1:-1]
        and "\\" not in t[1:-1]
    ):
        return t[1:-1]
    try:
        return int(t)
    except ValueError:
        pass
    try:
        return float(t)
    except ValueError:
        return None


def _split_conjuncts(predicate: str) -> list[str] | None:
    """Top-level AND conjuncts of a predicate, or None when a
    top-level OR voids conjunct-wise analysis. Literal-aware via the
    shared tokenizer (r17, ADVICE r16: ANDs inside double-quoted
    literals or backtick identifiers no longer split). A BETWEEN's
    own AND binds to it — a pending BETWEEN consumes exactly one."""
    from redis_lsm_timeseries_spark.sqltext import (
        iter_keyword_spans,
        mask_literals,
    )

    mask = mask_literals(predicate)
    parts, last, pending_between = [], 0, False
    for s, e, kw in iter_keyword_spans(
        predicate, ["AND", "OR", "BETWEEN"], mask=mask
    ):
        if kw == "OR":
            return None
        if kw == "BETWEEN":
            pending_between = True
        elif pending_between:
            pending_between = False
        else:
            parts.append(predicate[last:s])
            last = e
    parts.append(predicate[last:])
    return parts


def _env_range(env: dict, col: str, lo, hi):
    """Tighten ``col``'s envelope entry with an inclusive range. An
    existing value-SET entry filters by the range where values are
    comparable; incomparable (mixed-type) or empty results keep the
    prior entry — any superset stays sound."""
    prev = env.get(col, (None, None))
    if isinstance(prev, (set, frozenset)):
        try:
            kept = {
                v
                for v in prev
                if (lo is None or v >= lo) and (hi is None or v <= hi)
            }
        except TypeError:
            return
        if kept:
            env[col] = kept
        return
    plo, phi = prev
    try:
        if lo is not None:
            plo = lo if plo is None else max(plo, lo)
        if hi is not None:
            phi = hi if phi is None else min(phi, hi)
    except TypeError:
        return
    env[col] = (plo, phi)


def _env_set(env: dict, col: str, values: set):
    """Tighten ``col``'s envelope entry with an IN value set:
    set ∧ set intersects, set ∧ range filters the set by the range.
    Empty or incomparable results keep the wider prior entry
    (superset-safe either way)."""
    prev = env.get(col)
    if prev is None:
        env[col] = values
        return
    if isinstance(prev, (set, frozenset)):
        kept = prev & values
        if kept:
            env[col] = kept
        return
    lo, hi = prev
    try:
        kept = {
            v
            for v in values
            if (lo is None or v >= lo) and (hi is None or v <= hi)
        }
    except TypeError:
        kept = values
    env[col] = kept if kept else values


def _predicate_envelope(predicate: str | None) -> dict | None:
    """SUPERSET-SAFE stats envelope from a predicate's top-level AND
    conjuncts (r16; literal-aware + IN lists r17): ``{col: (lo, hi) |
    {values}}`` such that every matching row provably lies inside —
    so ``prune_files`` can skip files at the MANIFEST level before
    the data-derived scan, and the conflict guard can admit
    concurrent appends provably outside it (the key-enveloped merge
    posture). ``col IN (lit, ...)`` emits a value SET — exact
    membership pruning, the GDPR id-list DELETE shape — which
    ``prune_files``/``_stats_may_match`` already consume via bisect.
    Soundness rules: any top-level ``OR`` voids the whole envelope
    (an AND-split across it would over-constrain); a conjunct that
    isn't ``col <op> literal`` / ``col BETWEEN a AND b`` / ``col IN
    (literals)`` is simply ignored (the envelope from the parsed
    conjuncts still contains the predicate's rows); bounds widen to
    inclusive; literals inside quoted text never parse as keywords.
    None = no envelope (full-member scan + conflict-on-any-append)."""
    if not predicate:
        return None
    from redis_lsm_timeseries_spark.sqltext import split_top_level

    parts = _split_conjuncts(predicate)
    if parts is None:
        return None
    env: dict = {}
    found = False
    for part in parts:
        p = part.strip()
        while p.startswith("(") and p.endswith(")"):
            inner = p[1:-1]
            if inner.count("(") != inner.count(")"):
                break
            p = inner.strip()
        m = _BETWEEN_RE.match(p)
        if m:
            lo, hi = _lit(m.group(2)), _lit(m.group(3))
            if lo is not None and hi is not None:
                _env_range(env, m.group(1), lo, hi)
                found = True
            continue
        if _NOT_IN_RE.match(p):
            continue  # ignored conjunct: envelope stays a superset
        m = _IN_RE.match(p)
        if m:
            items = split_top_level(m.group(2), ",")
            vals = [_lit(i) for i in items]
            if (
                vals
                and len(vals) <= IN_SET_MAX
                and all(v is not None for v in vals)
            ):
                _env_set(env, m.group(1), set(vals))
                found = True
            continue
        m = _CMP_RE.match(p)
        if not m:
            continue
        col, op, rhs = m.group(1), m.group(2), m.group(3)
        v = _lit(rhs)
        if v is None:
            continue
        if op in ("=", "=="):
            _env_range(env, col, v, v)
        elif op in ("<", "<="):
            _env_range(env, col, None, v)
        else:  # > / >=
            _env_range(env, col, v, None)
        found = True
    return env if found else None


def _matched_file_counts(scan: DataFrame, cond) -> tuple[list[str], int]:
    """(relpaths of files holding ≥1 predicate-matching row, total
    matched rows) from ONE aggregation job — data-derived (the
    predicate pushes into the parquet scan), one row per file
    collected (metadata-scale, like ``prune_files``). Folding the
    row count into the same pass saves a whole scan of the affected
    files versus counting separately."""
    rows = (
        scan.where(cond)
        .groupBy(F.col("__dv_file").alias("f"))
        .count()
        .collect()
    )
    return [r.f for r in rows], int(sum(r["count"] for r in rows))


def _cond(predicate: str | None):
    return F.expr(predicate) if predicate else F.lit(True)


def update_where(
    host,
    path: str,
    set_exprs: dict[str, str],
    predicate: str | None = None,
    commit=None,
    extra_guard=None,
) -> DmlStats:
    """``UPDATE <path> SET col = expr, ... [WHERE predicate]``:
    every matching row's SET columns recompute from the OLD row (all
    SET expressions see pre-update values, the SQL UPDATE contract);
    every other row — and every file holding no matching row — is
    untouched. One atomic commit carries the replacement files plus
    the updated rows as typed ``upsert`` change rows, so keyed
    mirrors consume the update row-incrementally.

    Hive partition columns are valid SET targets (r17, VERDICT r16
    #3 — the Delta single-transaction partition move): the affected
    files rewrite WITHOUT the matched rows' old images while the
    updated rows land under their NEW hive directories, all in the
    same ``rewrite_files`` commit — the replacement writer reproduces
    the member's partition layout (``partitionBy``), so each output
    row routes to the directory its (possibly updated) partition
    value names. CHECK constraints validate the replacement files at
    staging like every write. Predicate and SET expressions are SQL
    over the table's LOGICAL columns."""
    from redis_lsm_timeseries_spark.commit import ManifestCommit

    if not set_exprs:
        raise ValidationError("update_where: SET requires ≥1 column")
    commit = commit if commit is not None else ManifestCommit()
    cond = _cond(predicate)

    managed = commit.member_files(host, path)
    cols_of = lambda df: set(df.columns)  # noqa: E731

    def updated(df):
        missing = set(set_exprs) - cols_of(df)
        if missing:
            raise ValidationError(
                f"update_where: SET column(s) {sorted(missing)} not "
                f"in {sorted(df.columns)}"
            )
        return df.select(
            *[
                (
                    F.when(cond, F.expr(set_exprs[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in set_exprs
                    else F.col(c)
                )
                for c in df.columns
            ]
        )

    if managed is None:
        cur = commit.read_table(host, path, None)
        n_rows = cur.where(
            F.coalesce(cond, F.lit(False))
        ).count()
        out = updated(cur)
        n = out.sparkSession.sparkContext.defaultParallelism
        commit.snapshot_rewrite(
            host, path, _clustered_write(out, [out.columns[0]], n)
        )
        return DmlStats(-1, -1, n_rows)

    root, member = commit._resolve(host, path)
    smeta, phys = _mapping_ctx(commit, host, path)
    total = len(managed)
    pcols = set(partition_cols_of(managed))
    if not managed:
        return DmlStats(0, 0, 0)
    # manifest-level pre-prune (r16): envelope-expressible conjuncts
    # skip files BEFORE the data-derived scan — a DELETE/UPDATE on a
    # time band touches O(band files) of a 100 TB member, and the
    # conflict guard relaxes to the envelope (concurrent appends
    # provably outside it land untouched, the merge posture)
    env = _predicate_envelope(predicate)
    candidates = managed
    if env:
        candidates, _ = commit.prune_files(host, path, env)
        if not candidates:
            return DmlStats(0, total, 0)
    scan = commit.scan_member_subset(
        host, path, candidates, keep_pos=True
    )
    affected, n_rows = _matched_file_counts(scan, cond)
    if not affected:
        return DmlStats(0, total, 0)
    guard = _compose_guards(
        _envelope_guard(
            commit, member, set(managed),
            {phys(c): b for c, b in env.items()},
        )
        if env
        else _any_append_guard(commit, member, set(managed)),
        extra_guard,
    )
    plan: dict = {}
    cur = _affected_df(host, commit, path, affected, smeta, plan=plan)
    missing = set(set_exprs) - set(cur.columns)
    if missing:
        raise ValidationError(
            f"update_where: SET column(s) {sorted(missing)} not in "
            f"{sorted(cur.columns)}"
        )
    # the match flag is computed on PRE-update values and carried
    # through the projection: a SET that modifies a predicate column
    # must not change which rows the change feed reports (the
    # post-update row could flip the predicate either way)
    marked = cur.withColumn(
        "__dml_m", F.coalesce(cond, F.lit(False))
    )
    out_marked = marked.select(
        *[
            (
                F.when(F.col("__dml_m"), F.expr(set_exprs[c]))
                .otherwise(F.col(c))
                .alias(c)
                if c in set_exprs
                else F.col(c)
            )
            for c in cur.columns
        ],
        F.col("__dml_m"),
    )
    out = out_marked.drop("__dml_m")
    cdf = _cdf_sized(
        _physical_out(
            commit, host, root, member,
            out_marked.where("__dml_m").drop("__dml_m")
            .withColumn(commit.CDF_TYPE_COL, F.lit("upsert")),
            smeta,
        ),
        len(affected) * 250_000,
    )
    cluster = [
        phys(c)
        for c in cur.columns
        if phys(c) not in pcols
    ][:1] or [phys(cur.columns[0])]
    commit.rewrite_files(
        host, path, affected,
        _clustered_write(
            _physical_out(commit, host, root, member, out, smeta),
            cluster, len(affected), partition_cols_of(affected),
        ),
        entry_guard=guard, cdf_df=cdf, plan_dv=plan["dv"],
    )
    return DmlStats(len(affected), total, n_rows)


def delete_where(
    host,
    path: str,
    predicate: str,
    commit=None,
    extra_guard=None,
    mode: str = "rewrite",
) -> DmlStats:
    """``DELETE FROM <path> WHERE predicate``: rows where the
    predicate holds (NULL = not matched, the SQL contract) are
    erased; files provably untouched stay as files. ``mode`` as in
    ``delete_rows``: ``"rewrite"`` copy-on-write, ``"dv"``
    positions-delete (merge-on-read, O(matched rows)), ``"auto"``
    picks by matched fraction. The deleted rows ride the commit as
    typed ``delete`` change rows."""
    from redis_lsm_timeseries_spark.commit import ManifestCommit

    if not predicate:
        raise ValidationError(
            "delete_where: a predicate is required (to drop every "
            "row, overwrite the member instead)"
        )
    if mode not in ("rewrite", "dv", "auto"):
        raise ValidationError(
            f"delete_where: mode must be 'rewrite', 'dv' or 'auto', "
            f"got {mode!r}"
        )
    commit = commit if commit is not None else ManifestCommit()
    cond = _cond(predicate)
    keep = ~F.coalesce(cond, F.lit(False))

    managed = commit.member_files(host, path)
    if managed is None:
        if mode == "dv":
            raise ValidationError(
                "delete_where: mode='dv' needs a manifest-managed "
                "table"
            )
        cur = commit.read_table(host, path, None)
        n_rows = cur.where(
            F.coalesce(cond, F.lit(False))
        ).count()
        out = cur.where(keep)
        n = out.sparkSession.sparkContext.defaultParallelism
        commit.snapshot_rewrite(
            host, path, _clustered_write(out, [out.columns[0]], n)
        )
        return DmlStats(-1, -1, n_rows)

    root, member = commit._resolve(host, path)
    smeta, phys = _mapping_ctx(commit, host, path)
    total = len(managed)
    if not managed:
        return DmlStats(0, 0, 0)
    env = _predicate_envelope(predicate)
    candidates = managed
    if env:
        candidates, _ = commit.prune_files(host, path, env)
        if not candidates:
            return DmlStats(0, total, 0)
    scan = commit.scan_member_subset(
        host, path, candidates, keep_pos=True
    )
    affected, n_rows = _matched_file_counts(scan, cond)
    if not affected:
        return DmlStats(0, total, 0)
    guard = _compose_guards(
        _envelope_guard(
            commit, member, set(managed),
            {phys(c): b for c, b in env.items()},
        )
        if env
        else _any_append_guard(commit, member, set(managed)),
        extra_guard,
    )
    if mode in ("dv", "auto"):
        entry = commit._load_entry(host, path, root, None)
        fstats = entry.get("stats", {}).get(member, {})
        matched = commit.scan_member_subset(
            host, path, affected, keep_pos=True
        ).where(cond)
        use_dv = mode == "dv"
        if not use_dv:
            live = 0
            for f in affected:
                s = fstats.get(f)
                rows = None if s is None else s.get("rows")
                if rows is None:
                    live = None
                    break
                live += int(rows) - int(
                    (s.get("dv") or {}).get("count", 0)
                )
            use_dv = (
                live is not None
                and live > 0
                and matched.count() <= DV_AUTO_MAX_FRACTION * live
            )
        if use_dv:
            n = _apply_dv_delete(
                host, commit, path, root, member, smeta,
                affected, matched, fstats, guard,
            )
            return DmlStats(n, total, n_rows)
    plan: dict = {}
    cur = _affected_df(host, commit, path, affected, smeta, plan=plan)
    survivors = cur.where(keep)
    cdf = _cdf_sized(
        _physical_out(
            commit, host, root, member,
            cur.where(cond)
            .withColumn(commit.CDF_TYPE_COL, F.lit("delete")),
            smeta,
        ),
        len(affected) * 250_000,
    )
    pcols = set(partition_cols_of(affected))
    cluster = [
        phys(c) for c in cur.columns if phys(c) not in pcols
    ][:1] or [phys(cur.columns[0])]
    write_fn = (
        None
        if survivors.isEmpty()
        else _clustered_write(
            _physical_out(commit, host, root, member, survivors, smeta),
            cluster, len(affected), partition_cols_of(affected),
        )
    )
    commit.rewrite_files(
        host, path, affected, write_fn, entry_guard=guard, cdf_df=cdf,
        plan_dv=plan["dv"],
    )
    return DmlStats(len(affected), total, n_rows)
