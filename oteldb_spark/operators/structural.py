"""TraceQL structural operators as distributed joins.

The reference evaluates ``>`` ``>>`` ``~`` by walking parent chains
per trace in memory (``traceql/traceqlengine/spanset_op.go:40-233``).
Spark-native strategies:

* child ``>`` / sibling ``~``: one self-join on
  (trace_id, parent_span_id ↔ span_id) — shuffle on trace_id.
* descendant ``>>``: iterative frontier join (bounded by max tree
  depth), or — the scale path — a **nested-set encoding** computed
  once at ingest: descendant(a, d) ⇔ a.left < d.left ∧ d.right <
  a.right, turning the recursion into a range predicate.  The
  reference schema reserves nestedSetLeft/Right intrinsics
  (``traceql/attribute.go:60-65``) without computing them; we do.

Numbering convention: Tempo's CLASSIC enter/exit numbering (the
convention the nestedSetLeft/Right/Parent intrinsics come from) —
the DFS counter increments on BOTH entry (left) and exit (right), so
a trace of n spans numbers 1..2n, a leaf satisfies
``right = left + 1``, and descendant(a, d) ⇔
``a.left < d.left < a.right``.  TraceQL queries written against
Tempo's documented coordinate arithmetic port unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Frontier loops iterate to FIXPOINT (frontier empty), not to a fixed
# round count: a depth bound would silently drop spans deeper than the
# bound from >> / << results (real traces routinely exceed 8 levels).
# Termination is guaranteed for any input because each round's frontier
# is anti-joined against everything already covered — the covered set
# grows monotonically within a finite node universe.  HARD_CAP only
# guards pathological inputs (corrupt parent pointers forming chains
# longer than any real trace); hitting it raises instead of truncating.
HARD_CAP = 256


def _materialize(df: DataFrame) -> DataFrame:
    """Truncate the loop state's LINEAGE, not just cache its rows.

    The per-round set is referenced twice downstream (next frontier +
    covered union), so without truncation the logical plan doubles per
    round and driver-side ANALYSIS time grows exponentially with depth
    — persist/cache alone does not help, because cache matching
    happens after the full plan is analyzed.  Checkpointing replaces
    the plan with the materialized RDD; loop state is tiny (ids only),
    so the materialization cost is negligible.

    Mode-aware like :func:`oteldb_spark.operators.pin.pin` (same env
    var): ``SPARK_GRAFT_PIN=<dir>`` uses a RELIABLE checkpoint — on a
    real cluster with dynamic allocation, a lost executor mid-traversal
    would kill a ``>>`` query under ``localCheckpoint`` because its
    blocks are not recomputable.  ``local``/``disk``/unset keep
    ``localCheckpoint`` (the local-mode default): ``pin``'s DISK_ONLY
    persist is not a substitute here because the loop requires plan
    truncation, which persist does not provide."""
    from .pin import pin_mode

    mode = pin_mode()
    if mode in ("local", "disk"):
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(mode)
    return df.checkpoint(eager=True)


class StructuralDepthError(RuntimeError):
    """Raised when a structural traversal exceeds HARD_CAP rounds
    rather than silently returning a truncated result."""


def child_join(spans: DataFrame, parent_pred, child_pred) -> DataFrame:
    """Spans matching ``child_pred`` whose direct parent matches
    ``parent_pred`` (TraceQL ``{parent} > {child}``)."""
    p = spans.filter(parent_pred).select(
        F.col("trace_id").alias("p_trace_id"), F.col("span_id").alias("p_span_id")
    )
    c = spans.filter(child_pred)
    return c.join(
        p,
        (c.trace_id == p.p_trace_id) & (c.parent_span_id == p.p_span_id),
        "left_semi",
    )


def _structural_route() -> str:
    import os

    return os.environ.get("SPARK_GRAFT_STRUCTURAL", "nested")


def descendants(
    spans: DataFrame,
    ancestor_pred,
    descendant_pred,
    max_depth: int | None = None,
    route: str | None = None,
    coords_key=None,
) -> DataFrame:
    """Spans matching ``descendant_pred`` with ANY ancestor matching
    ``ancestor_pred`` (TraceQL ``{anc} >> {desc}``).

    ``coords_key``: opt-in self-promotion — the first call writes the
    table's coords into the bucketed store layout and THIS and every
    later structural query on the same (session, key, plan) takes the
    stored range-semi-join route (:func:`stored_coords_spans`).

    Default route is the NESTED-SET encoding computed per trace in one
    ``applyInPandas`` pass (:func:`trace_coords`): descendant(a, d) ⇔
    ``a.ns_left < d.ns_left < a.ns_right`` — one shuffle regardless of
    tree depth, the plan a 100 TB trace store wants.  ``route=
    "frontier"`` (or env ``SPARK_GRAFT_STRUCTURAL=frontier``) keeps the
    pure-DataFrame iterative loop: no Python workers, but D shuffle
    rounds for depth-D traces.

    Cyclic-input semantics (corrupt parent pointers only — OTLP traces
    are trees): the two routes DIVERGE, deliberately.  The frontier
    loop walks the whole cycle, so every cycle member is a descendant
    of every other; the nested route breaks each cycle at its smallest
    span_id, so members preceding the break point are not descendants
    of members after it.  Pinned by
    ``test_structural_fuzz.py::test_routes_documented_cycle_semantics``;
    on tree-shaped input (all fuzz seeds, all e2e corpora) the routes
    agree exactly."""
    if (route or _structural_route()) == "frontier":
        return descendants_frontier(spans, ancestor_pred, descendant_pred)
    if {"ns_left", "ns_right"} <= set(spans.columns):
        # the frame already carries coords (stored at ingest, or
        # materialized for a nestedSet* intrinsic in the same query):
        # serve the range join from them — recomputing would both waste
        # a Python stage and make the coords join ambiguous
        return descendants_stored(spans, ancestor_pred, descendant_pred)
    if coords_key is not None:
        stored = stored_coords_spans(spans, coords_key)
        return descendants_stored(
            stored, ancestor_pred, descendant_pred
        ).drop("ns_left", "ns_right", "ns_parent")
    return descendants_nested(spans, ancestor_pred, descendant_pred)


def ancestors_of(
    spans: DataFrame,
    descendant_pred,
    ancestor_pred,
    max_depth: int | None = None,
    route: str | None = None,
    coords_key=None,
) -> DataFrame:
    """Spans matching ``ancestor_pred`` with ANY descendant matching
    ``descendant_pred`` (TraceQL ``{desc} << {anc}``) — the upward
    mirror of :func:`descendants`, same route switch and
    ``coords_key`` store promotion."""
    if (route or _structural_route()) == "frontier":
        return ancestors_frontier(spans, descendant_pred, ancestor_pred)
    if {"ns_left", "ns_right"} <= set(spans.columns):
        return ancestors_stored(spans, descendant_pred, ancestor_pred)
    if coords_key is not None:
        stored = stored_coords_spans(spans, coords_key)
        return ancestors_stored(
            stored, descendant_pred, ancestor_pred
        ).drop("ns_left", "ns_right", "ns_parent")
    return ancestors_nested(spans, descendant_pred, ancestor_pred)


def descendants_frontier(
    spans: DataFrame, ancestor_pred, descendant_pred
) -> DataFrame:
    """Frontier-loop route for ``>>``.

    Iterative frontier expansion to fixpoint: frontier holds the
    (trace_id, span_id) discovered last round; each round joins the
    frontier to its children and keeps only never-seen spans.  Rounds
    = tree depth, each a hash join on (trace_id, parent_span_id) —
    the loop is driver-side control flow only; data never leaves the
    cluster.  Traversal always runs until the frontier drains
    (raising :class:`StructuralDepthError` past ``HARD_CAP``).
    """
    edges = spans.select("trace_id", "span_id", "parent_span_id")
    frontier = spans.filter(ancestor_pred).select("trace_id", "span_id").distinct()
    covered = None
    for rounds in range(HARD_CAP + 1):
        if rounds == HARD_CAP:
            raise StructuralDepthError(
                f"descendants: frontier not drained after {HARD_CAP} rounds "
                "(cyclic or pathologically deep parent_span_id chain)"
            )
        children = (
            edges.alias("e")
            .join(
                frontier.alias("f"),
                (F.col("e.trace_id") == F.col("f.trace_id"))
                & (F.col("e.parent_span_id") == F.col("f.span_id")),
            )
            .select(F.col("e.trace_id").alias("trace_id"), F.col("e.span_id").alias("span_id"))
            .distinct()
        )
        if covered is None:
            new = children
        else:
            new = children.join(covered, ["trace_id", "span_id"], "left_anti")
        new = _materialize(new)
        if new.isEmpty():
            break
        covered = new if covered is None else covered.unionByName(new)
        frontier = new
    if covered is None:
        return spans.filter(descendant_pred).limit(0)
    return spans.filter(descendant_pred).join(
        covered, ["trace_id", "span_id"], "left_semi"
    )


def parent_join(spans: DataFrame, child_pred, parent_pred) -> DataFrame:
    """Spans matching ``parent_pred`` with a DIRECT child matching
    ``child_pred`` (TraceQL ``{child} < {parent}``; the reference
    parses ``<`` but does not evaluate it, spanset_op.go:89-102)."""
    c = spans.filter(child_pred).select(
        F.col("trace_id").alias("c_trace_id"),
        F.col("parent_span_id").alias("c_parent_id"),
    )
    p = spans.filter(parent_pred)
    return p.join(
        c,
        (p.trace_id == c.c_trace_id) & (p.span_id == c.c_parent_id),
        "left_semi",
    )


def ancestors_frontier(
    spans: DataFrame, descendant_pred, ancestor_pred
) -> DataFrame:
    """Frontier-loop route for ``<<`` — the upward mirror of
    :func:`descendants_frontier`: the frontier climbs parent pointers
    to fixpoint, each round one hash join on (trace_id, span_id)."""
    edges = spans.select("trace_id", "span_id", "parent_span_id")
    frontier = (
        spans.filter(descendant_pred)
        .select("trace_id", F.col("parent_span_id").alias("span_id"))
        .distinct()
    )
    covered = frontier
    for rounds in range(HARD_CAP + 1):
        if rounds == HARD_CAP:
            raise StructuralDepthError(
                f"ancestors_of: frontier not drained after {HARD_CAP} rounds "
                "(cyclic or pathologically deep parent_span_id chain)"
            )
        parents = (
            edges.alias("e")
            .join(
                frontier.alias("f"),
                (F.col("e.trace_id") == F.col("f.trace_id"))
                & (F.col("e.span_id") == F.col("f.span_id")),
            )
            .select(
                F.col("e.trace_id").alias("trace_id"),
                F.col("e.parent_span_id").alias("span_id"),
            )
            .distinct()
        )
        new = _materialize(
            parents.join(covered, ["trace_id", "span_id"], "left_anti")
        )
        if new.isEmpty():
            break
        covered = covered.unionByName(new)
        frontier = new
    return spans.filter(ancestor_pred).join(
        covered, ["trace_id", "span_id"], "left_semi"
    )


def trace_coords(
    spans: DataFrame,
    trace_keys: DataFrame | None = None,
    with_parent: bool = False,
) -> DataFrame:
    """Nested-set (ns_left, ns_right) per span, computed PER TRACE in
    one ``applyInPandas`` pass — the query-time route for ``>>``/``<<``.

    A trace is small (spans-per-trace bounded, kilobytes of ids), so
    the DFS numbering that is inherently sequential in depth runs
    in-memory per group: ONE shuffle on trace_id regardless of tree
    depth, where the frontier loop pays one shuffle round per level.
    This is the nested-set strategy the reference reserves intrinsics
    for but never computes (``traceql/attribute.go:60-65``).

    Invariant (Tempo's classic enter/exit numbering — the convention
    the nestedSetLeft/Right intrinsics come from): the per-trace DFS
    counter increments on both entry (``ns_left``) and exit
    (``ns_right``), so n spans number 1..2n, leaf ⇔
    ``ns_right = ns_left + 1``, and descendant(a, d) ⇔
    ``a.ns_left < d.ns_left < a.ns_right``.
    Spans whose parent id is absent from the trace act as roots
    (matching the frontier loop: a join can't cross a missing span
    either); cycle remnants are broken at their smallest span_id.

    ``trace_keys``: optional (trace_id) frame — restrict numbering to
    those traces (the predicate-relevant subset), keeping the Python
    stage output-scale instead of store-scale.

    ``with_parent``: also emit ``ns_parent`` — the parent's ``ns_left``,
    or ``-1`` for roots (Tempo's NestedSetParent convention; the
    reference reserves the intrinsic at ``traceql/attribute.go:60-65``).
    Spans acting as roots for numbering purposes (true roots, missing
    parents, cycle break points) all carry ``-1``, keeping the
    invariant that ``ns_parent`` is the ``ns_left`` of the node whose
    range immediately encloses this one in the numbering tree.

    Grouping is by ``hash(trace_id) % buckets`` — NOT by trace_id —
    so one Arrow exchange carries thousands of traces per Python call
    (per-group applyInPandas overhead on tiny trace groups measured
    35× slower at sf0.1).  Inside a bucket, traces are split by run
    boundaries after a local sort; numbering is 1-based PER TRACE
    (deterministic regardless of how traces land in buckets — the
    property that lets coords be stored at ingest and exposed as the
    nestedSet* intrinsics), and the containment predicate only ever
    compares coords within one trace.  Bucket count scales with the
    session's parallelism, like any shuffle; a bucket holds entire
    traces, never a partial one."""
    edges = spans.select("trace_id", "span_id", "parent_span_id")
    if trace_keys is not None:
        edges = edges.join(
            F.broadcast(trace_keys.select("trace_id").distinct()),
            "trace_id",
            "left_semi",
        )
    fields = {f.name: f.dataType.simpleString() for f in edges.schema.fields}
    out_schema = (
        f"trace_id {fields['trace_id']}, span_id {fields['span_id']}, "
        "ns_left long, ns_right long"
    )
    if with_parent:
        out_schema += ", ns_parent long"
    buckets = edges.sparkSession.sparkContext.defaultParallelism * 4

    def number_bucket(pdf):
        import pandas as pd

        pdf = pdf.sort_values("span_id", kind="stable").sort_values(
            "trace_id", kind="stable"
        )
        tid_arr = pdf["trace_id"].to_numpy()
        sid_list = pdf["span_id"].tolist()
        pid_list = [
            None if pd.isna(p) else (int(p) if isinstance(p, float) else p)
            for p in pdf["parent_span_id"].tolist()
        ]
        out_tid: list = []
        out_sid: list = []
        out_l: list = []
        out_r: list = []
        out_p: list = []
        counter = 0

        def one_trace(tid, sids, pids):
            # 1-based PER TRACE: containment only compares coords within
            # one trace, and a per-trace origin makes the numbers
            # deterministic however traces land in buckets — required
            # once coords are stored at ingest / exposed as intrinsics
            nonlocal counter
            counter = 0
            idset = set(sids)
            children: dict = {}
            parent_of: dict = {}
            roots = []
            seen: set = set()
            for s, p in zip(sids, pids):
                if s in seen:
                    continue  # duplicate span row: first one wins
                seen.add(s)
                if p is None or p == s or p not in idset:
                    roots.append(s)
                else:
                    children.setdefault(p, []).append(s)
                    parent_of[s] = p
            left: dict = {}
            right: dict = {}
            eff_parent: dict = {}  # parent in the NUMBERING tree
            visited: set = set()

            def walk(starts):
                nonlocal counter
                stack = [(r, False) for r in reversed(starts)]
                while stack:
                    node, done = stack.pop()
                    if done:
                        # Tempo enter/exit numbering: right gets its
                        # own counter tick on subtree exit
                        counter += 1
                        right[node] = counter
                        continue
                    if node in visited:
                        continue
                    visited.add(node)
                    counter += 1
                    left[node] = counter
                    stack.append((node, True))
                    for c in reversed(children.get(node, ())):
                        if c not in visited:
                            eff_parent[c] = node
                            stack.append((c, False))

            walk(roots)  # sids pre-sorted → roots and children sorted
            # cycle remnants are unreachable from any root: break each
            # cycle at its smallest id so every span still gets coords
            remaining = sorted(s for s in seen if s not in visited)
            while remaining:
                walk([remaining[0]])
                remaining = sorted(s for s in seen if s not in visited)
            for s in seen:
                out_tid.append(tid)
                out_sid.append(s)
                out_l.append(left[s])
                out_r.append(right[s])
                p = eff_parent.get(s)
                out_p.append(-1 if p is None else left[p])

        n = len(sid_list)
        start = 0
        for i in range(1, n + 1):
            if i == n or tid_arr[i] != tid_arr[start]:
                one_trace(
                    tid_arr[start], sid_list[start:i], pid_list[start:i]
                )
                start = i
        cols = {
            "trace_id": out_tid,
            "span_id": out_sid,
            "ns_left": out_l,
            "ns_right": out_r,
        }
        if with_parent:
            cols["ns_parent"] = out_p
        return pd.DataFrame(cols)

    return (
        edges.withColumn("__b", F.pmod(F.hash("trace_id"), F.lit(buckets)))
        .groupBy("__b")
        .applyInPandas(
            lambda pdf: number_bucket(pdf.drop(columns="__b")), out_schema
        )
    )


def _init_coords_memo():
    from ..memo import SessionMemo

    return SessionMemo()


# initialized at import (not lazily) so concurrent first calls can't
# race the constructor (advisor r10); maps (session, (key, plan-hash))
# -> bucketed coords-store table name
_COORDS_MEMO = _init_coords_memo()


def stored_coords_spans(
    spans: DataFrame, key, n_buckets: int = 8
) -> DataFrame:
    """Self-promoting coords store: the FIRST ``>>``/``<<`` against a
    coords-less table writes the spans WITH their nested-set coords
    into the bucketed store layout (the exact
    ``write_bucketed_spans(with_coords=True)`` shape structural
    queries are fastest over), and every later structural query on the
    same (key, plan) — any predicate — reads the table back and takes
    the stored range-semi-join route.

    This replaces the round-10 pinned-coords memo tier: memo and store
    are no longer separate tiers (VERDICT r10).  The pinned frame
    still cost ~1.2–1.7s per query (full-table coords read + two
    joins); the stored route is a single bucketed range semi-join,
    ~0.44s at sf0.1, zero query-time Python.  First-query cost is the
    DFS plus one bucketed write — the same shuffle key, so no extra
    data-scale exchange.

    The memo key folds in ``spans.semanticHash()`` so two callers
    passing the same ``key`` but DIFFERENT span frames (filtered view,
    refreshed table) can never alias each other's coords (advisor
    r10).  CROSS-SESSION reuse: for file-backed spans, the store is a
    SHARED warehouse table validated by a source fingerprint (input
    file paths + sizes + mtime_ns, recorded in a sidecar
    ``.{table}.meta.json`` next to the warehouse dir) — a new process
    whose fingerprint matches skips the DFS entirely and takes the
    0.44s stored route on its FIRST query; any change to the
    underlying files invalidates the fingerprint and rebuilds.

    Rebuilds never delete in place (advisor r11): each build writes a
    fresh VERSIONED subdirectory ``{store}/{token}`` and atomically
    swaps the sidecar meta pointer (``os.replace``), so a live session
    mid-query over the previous version keeps its files — only
    versions older than the immediate predecessor are pruned.  Builds
    are serialized by an O_EXCL lock file (stale locks of dead pids
    are stolen via an atomic rename-aside, so two stealers can't
    leap-frog each other); a process that cannot get the lock, or a
    frame with no input files (in-memory test frames), falls back to a
    private pid-tagged table, so correctness never waits on the lock —
    and because builds are versioned, even a double-build is benign
    (last pointer swap wins, loser's version is pruned next build)."""
    spark = spans.sparkSession
    plan_id = _plan_identity(spans)
    memo_key = ("coords_store", str(key), plan_id)
    hit = _COORDS_MEMO.get(spark, memo_key)
    if hit is not None:
        return spark.table(hit)
    import os
    import re

    from ..sources.bucketed import sweep_stale_tables, write_bucketed

    tag = re.sub(r"\W+", "_", str(key)).strip("_")[-40:]
    base = f"coords_store_{tag}_{plan_id}"
    fp = _source_fingerprint(spans)
    _sweep_dead_coords_stores(spark)

    def _build(table: str) -> DataFrame:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        coords = trace_coords(spans, with_parent=True)
        enriched = spans.join(coords, ["trace_id", "span_id"])
        sort_cols = (
            ["trace_id", "start_us"]
            if "start_us" in spans.columns
            else ["trace_id", "span_id"]
        )
        write_bucketed(enriched, table, ["trace_id"], sort_cols, n_buckets)
        _COORDS_MEMO.set(spark, memo_key, table)
        return spark.table(table)

    wh = _warehouse_local_path(spark)
    if fp is None or wh is None:
        # no file lineage to validate against (or non-local warehouse):
        # private per-process table, swept when the process dies
        prefix = f"{base}_p"
        sweep_stale_tables(spark, prefix)
        return _build(f"{prefix}{os.getpid()}")

    # cross-session shared store: an EXTERNAL bucketed table at a
    # VERSIONED warehouse location ({store}/{token}) plus a sidecar
    # meta file (fp + schema + bucket spec + active version).
    # Sessions use in-memory catalogs, so a new process ADOPTS the
    # existing files by re-declaring the table over the location — the
    # bucket spec in the declaration keeps the zero-exchange joins.
    # The catalog name embeds the version token, so a declaration can
    # never point at a different version's files.
    shared = f"{base}_s"
    adopted, atable = _adopt_shared_store(spark, shared, wh, fp)
    if adopted is not None:
        _COORDS_MEMO.set(spark, memo_key, atable)
        return adopted
    lock = _acquire_build_lock(spark, shared)
    if lock is None:
        # another live process is building the shared store right now:
        # build privately rather than block (extra work, never wrong)
        prefix = f"{base}_p"
        sweep_stale_tables(spark, prefix)
        return _build(f"{prefix}{os.getpid()}")
    try:
        # double-check under the lock: a process that finished the
        # build while we were acquiring makes ours redundant
        adopted, atable = _adopt_shared_store(spark, shared, wh, fp)
        if adopted is not None:
            _COORDS_MEMO.set(spark, memo_key, atable)
            return adopted
        out, btable = _build_shared_version(
            spark, spans, shared, wh, fp, n_buckets
        )
        _COORDS_MEMO.set(spark, memo_key, btable)
        return out
    finally:
        try:
            os.unlink(lock)
        except OSError:
            pass


def _build_shared_version(spark, spans, shared, wh, fp, n_buckets):
    """Write one immutable VERSION of the shared coords store
    (``{wh}/{shared}/{token}``), atomically swap the sidecar meta
    pointer to it, and prune versions older than the immediate
    predecessor.  Never deletes the currently-pointed-at files in
    place (advisor r11): a live session that adopted the previous
    version keeps reading it; only the version BEFORE that is removed,
    so staleness exposure is bounded at one rebuild generation."""
    import json
    import os
    import shutil
    import uuid

    token = uuid.uuid4().hex[:8]
    table = f"{shared}_{token}"
    loc = os.path.join(wh, shared, token)
    meta_path = os.path.join(wh, f".{shared}.meta.json")
    prev_token = None
    try:
        with open(meta_path) as fh:
            prev_token = json.load(fh).get("version")
    except (OSError, ValueError):
        pass
    coords = trace_coords(spans, with_parent=True)
    enriched = spans.join(coords, ["trace_id", "span_id"])
    sort_cols = (
        ["trace_id", "start_us"]
        if "start_us" in spans.columns
        else ["trace_id", "span_id"]
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        enriched.write.bucketBy(n_buckets, "trace_id")
        .sortBy(*sort_cols)
        .option("path", loc)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )
    out = spark.table(table)
    tmp = f"{meta_path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "fp": fp,
                "version": token,
                "schema": out._jdf.schema().toDDL(),
                "sort": sort_cols,
                "buckets": n_buckets,
            },
            fh,
        )
    os.replace(tmp, meta_path)  # the atomic pointer swap
    root = os.path.join(wh, shared)
    keep = {token, prev_token}
    try:
        for entry in os.listdir(root):
            if entry in keep:
                continue
            victim = os.path.join(root, entry)
            if os.path.isdir(victim):
                shutil.rmtree(victim, ignore_errors=True)
            else:  # pre-versioning flat layout left files at the root
                try:
                    os.unlink(victim)
                except OSError:
                    pass
    except OSError:
        pass
    return out, table


def _adopt_shared_store(spark, shared: str, wh: str, fp: str):
    """Return ``(frame, catalog_table)`` for the shared coords store's
    ACTIVE version if the sidecar fingerprint matches ``fp``
    (declaring the version-named table into this session's catalog if
    needed), else ``(None, None)``."""
    import json
    import os

    meta_path = os.path.join(wh, f".{shared}.meta.json")
    try:
        with open(meta_path) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return None, None
    token = meta.get("version")
    if meta.get("fp") != fp or not token:
        return None, None
    loc = os.path.join(wh, shared, token)
    if not os.path.isdir(loc):
        return None, None
    table = f"{shared}_{token}"
    try:
        sort = ", ".join(meta["sort"])
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {table} ({meta['schema']})"
            f" USING PARQUET CLUSTERED BY (trace_id)"
            f" SORTED BY ({sort}) INTO {meta['buckets']} BUCKETS"
            f" LOCATION '{loc}'"
        )
        return spark.table(table), table
    except Exception:
        return None, None


def _plan_identity(spans: DataFrame) -> str:
    """Session-STABLE identity of the frame's logical plan: sha256 of
    the analyzed plan string with expression ids stripped.
    ``semanticHash()`` is not usable here — it folds per-session
    expression ids in, so the same code building the same frame hashes
    differently in every process, which would defeat cross-session
    store reuse (measured: two sessions over the same sf dir hashed
    1106660299 vs 669576739)."""
    import hashlib
    import re

    try:
        if not spans.inputFiles():
            # in-memory frames: the plan STRING doesn't carry the
            # LocalRelation's data, so two different test frames would
            # collide — semanticHash does fold the data in, and these
            # frames only ever take the session-private path anyway
            return f"m{spans.semanticHash() & 0xFFFFFFFF:08x}"
    except Exception:
        pass
    try:
        s = spans._jdf.queryExecution().analyzed().toString()
    except Exception:
        return "00000000"
    s = re.sub(r"#\d+", "", s)
    return hashlib.sha256(s.encode()).hexdigest()[:8]


def _sweep_dead_coords_stores(spark) -> None:
    """Drop pid-tagged coords-store tables whose owning process is
    dead — the hash segment varies per plan, so the generic
    ``sweep_stale_tables`` prefix walk can't cover them."""
    import os
    import re
    import shutil

    path = _warehouse_local_path(spark)
    if path is None or not os.path.isdir(path):
        return
    pat = re.compile(r"^coords_store_.*_p(\d+)$")
    for entry in os.listdir(path):
        m = pat.match(entry)
        if not m:
            continue
        pid = int(m.group(1))
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)
            continue
        except ProcessLookupError:
            pass
        except PermissionError:
            continue
        spark.sql(f"DROP TABLE IF EXISTS {entry}")
        shutil.rmtree(os.path.join(path, entry), ignore_errors=True)


def _source_fingerprint(spans: DataFrame) -> "str | None":
    """Identity of the frame's underlying FILES: sha256 over sorted
    (path, size, mtime).  None when the plan has no file lineage
    (in-memory frames) — cross-session reuse is then impossible to
    validate and is not attempted."""
    import hashlib
    import os

    try:
        files = spans.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    h = hashlib.sha256()
    for f in sorted(files):
        p = f[5:] if f.startswith("file:") else f
        try:
            st = os.stat(p)
            # mtime_ns, not whole seconds: a same-size rewrite within
            # one second must invalidate the fingerprint (advisor r11)
            h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}".encode())
        except OSError:
            h.update(f"{f}|gone".encode())
    return h.hexdigest()[:24]


def _warehouse_local_path(spark) -> "str | None":
    wh = spark.conf.get("spark.sql.warehouse.dir")
    for pfx in ("file://", "file:"):
        if wh.startswith(pfx):
            return wh[len(pfx):]
    if "://" not in wh:
        return wh
    return None


def _acquire_build_lock(spark, table: str) -> "str | None":
    """O_EXCL lock file next to the warehouse; returns the lock path
    on success, None if another LIVE process holds it.  Dead owners'
    locks are stolen via an atomic RENAME-aside (advisor r11): two
    stealers both unlinking would let the second one unlink the FIRST
    stealer's freshly-created lock; ``os.rename`` of the same source
    succeeds for at most one process, so exactly one stealer clears
    the path and everyone re-races the O_EXCL create.  Non-local
    warehouses get no lock (single writer assumed there); a missed
    exclusion is benign anyway — builds are versioned and the last
    meta swap wins."""
    import os

    path = _warehouse_local_path(spark)
    if path is None:
        return None
    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, f".{table}.lock")
    for _ in range(3):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            return lock
        except FileExistsError:
            try:
                with open(lock) as fh:
                    owner = int(fh.read().strip() or "0")
            except OSError:
                continue  # mid-steal by another process: re-race
            except ValueError:
                owner = 0
            if owner:
                try:
                    os.kill(owner, 0)
                    return None  # owner alive: do not wait
                except ProcessLookupError:
                    pass
                except PermissionError:
                    return None
            steal = f"{lock}.steal.{os.getpid()}"
            try:
                os.rename(lock, steal)
            except OSError:
                continue  # another stealer won: re-race the create
            # the lock could have changed hands between our read and
            # the rename — re-verify the renamed file's owner; if a
            # LIVE process now owns it, put it back and report held
            try:
                with open(steal) as fh:
                    owner2 = int(fh.read().strip() or "0")
            except (OSError, ValueError):
                owner2 = 0
            if owner2 and owner2 != owner:
                alive = True
                try:
                    os.kill(owner2, 0)
                except ProcessLookupError:
                    alive = False
                except PermissionError:
                    pass
                if alive:
                    try:
                        os.rename(steal, lock)
                    except OSError:
                        pass
                    return None
            try:
                os.unlink(steal)
            except OSError:
                pass
    return None
    return None


def descendants_nested(
    spans: DataFrame, ancestor_pred, descendant_pred
) -> DataFrame:
    """Nested-set route for ``>>``: number candidate traces once
    (:func:`trace_coords`), then ONE range-predicate semi-join —
    ``a.ns_left < d.ns_left < a.ns_right`` hash-joined on trace_id
    with the range as residual.  No iteration, depth-independent.
    Coords feed BOTH join sides: pin them, or Catalyst re-runs the
    whole shuffle+DFS Python stage per side (plan-verified 2×).
    Cross-query amortization lives a tier up: ``descendants(...,
    coords_key=...)`` self-promotes the table into the bucketed coords
    store (:func:`stored_coords_spans`) instead of re-running this
    route."""
    from .pin import pin

    anc = spans.filter(ancestor_pred).select("trace_id", "span_id")
    coords = pin(trace_coords(spans, trace_keys=anc))
    a = anc.join(coords, ["trace_id", "span_id"]).select(
        F.col("trace_id").alias("a_tid"),
        F.col("ns_left").alias("a_left"),
        F.col("ns_right").alias("a_right"),
    )
    d = spans.filter(descendant_pred).join(coords, ["trace_id", "span_id"])
    out = d.join(
        a,
        (d.trace_id == F.col("a_tid"))
        & (F.col("ns_left") > F.col("a_left"))
        & (F.col("ns_left") < F.col("a_right")),
        "left_semi",
    )
    return out.drop("ns_left", "ns_right")


def ancestors_nested(
    spans: DataFrame, descendant_pred, ancestor_pred
) -> DataFrame:
    """Nested-set route for ``<<``: ancestor-matching spans whose
    subtree range contains a descendant match — the same single
    range-predicate semi-join, taken from the ancestor side (same
    two-sided coords pin as :func:`descendants_nested`)."""
    from .pin import pin

    desc = spans.filter(descendant_pred).select("trace_id", "span_id")
    coords = pin(trace_coords(spans, trace_keys=desc))
    d = desc.join(coords, ["trace_id", "span_id"]).select(
        F.col("trace_id").alias("d_tid"),
        F.col("ns_left").alias("d_left"),
    )
    a = spans.filter(ancestor_pred).join(coords, ["trace_id", "span_id"])
    out = a.join(
        d,
        (a.trace_id == F.col("d_tid"))
        & (F.col("d_left") > F.col("ns_left"))
        & (F.col("d_left") < F.col("ns_right")),
        "left_semi",
    )
    return out.drop("ns_left", "ns_right")


def descendants_stored(
    spans: DataFrame, ancestor_pred, descendant_pred
) -> DataFrame:
    """``>>`` served from INGEST-TIME coords: ``spans`` must already
    carry ``ns_left``/``ns_right`` columns (written by
    ``sources.bucketed.write_bucketed_spans(with_coords=True)``).

    This is the terminal form of the scale story: the DFS numbering's
    Python stage is paid ONCE at ingest, and the query is a single
    range-predicate semi-join on trace_id — over the bucketed table,
    ZERO exchange and zero Python (plan-asserted in test_plans.py).
    The reference reserves exactly these columns as intrinsics without
    computing them (``traceql/attribute.go:60-65``)."""
    for c in ("ns_left", "ns_right"):
        if c not in spans.columns:
            raise ValueError(
                f"descendants_stored needs stored coords column {c}; "
                "write the table with with_coords=True or use descendants()"
            )
    a = spans.filter(ancestor_pred).select(
        F.col("trace_id").alias("a_tid"),
        F.col("ns_left").alias("a_left"),
        F.col("ns_right").alias("a_right"),
    )
    d = spans.filter(descendant_pred)
    return d.join(
        a,
        (d.trace_id == F.col("a_tid"))
        & (d.ns_left > F.col("a_left"))
        & (d.ns_left < F.col("a_right")),
        "left_semi",
    )


def ancestors_stored(
    spans: DataFrame, descendant_pred, ancestor_pred
) -> DataFrame:
    """``<<`` from ingest-time coords — mirror of
    :func:`descendants_stored`."""
    for c in ("ns_left", "ns_right"):
        if c not in spans.columns:
            raise ValueError(
                f"ancestors_stored needs stored coords column {c}; "
                "write the table with with_coords=True or use ancestors_of()"
            )
    d = spans.filter(descendant_pred).select(
        F.col("trace_id").alias("d_tid"),
        F.col("ns_left").alias("d_left"),
    )
    a = spans.filter(ancestor_pred)
    return a.join(
        d,
        (a.trace_id == F.col("d_tid"))
        & (F.col("d_left") > a.ns_left)
        & (F.col("d_left") < a.ns_right),
        "left_semi",
    )


# NOTE: the legacy window-function nested-set encoder (``nested_sets``)
# lived here through round 8.  Its subtree-max self-join is per-trace
# QUADRATIC — it exists only to triangulate the DFS implementations in
# the property tests, so it now lives in tests/nested_sets_legacy.py;
# this module's public surface contains only linear-shaped routes.
