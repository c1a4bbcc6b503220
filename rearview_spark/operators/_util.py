"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Per-iteration node-state frames (ranks, labels, distances, HITS
#: scores, component labels) are broadcast into their edge join only
#: while their row count is PROVEN to fit a broadcast relation; past
#: the cap the join falls back to the shuffled path unchanged.
#: ~48 B/entry in a built hash relation puts 20M rows around 1 GB per
#: executor — conservative against Spark's 8 GB / 512M-row broadcast
#: cap. Env-parameterised so a deployment can size it to executor
#: memory. DRIVER sizing matters as much as executor sizing (ADVICE
#: r16): the state changes every iteration, so a NEW broadcast is
#: built per round — the driver collects each round's state to build
#: it, and the previous rounds' relations linger until ContextCleaner
#: GC frees them. Size the cap so ~2-3 in-flight relations fit the
#: driver too: the repo session's 8g default driver carries the 20M
#: (~1 GB) default; a 1g driver needs SPARK_GRAFT_BCAST_STATE_MAX
#: around 2M. Past the cap nothing is collected anywhere — the loop
#: keeps the shuffled SMJ plan unchanged.
BROADCAST_STATE_MAX = int(
    __import__("os").environ.get("SPARK_GRAFT_BCAST_STATE_MAX", str(20_000_000))
)


def bcast_state(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Explicit broadcast hint for iteration state of KNOWN size.

    Fixed-point operators keep their per-iteration state behind
    ``localCheckpoint`` (the lineage bound every iterative DataFrame
    loop needs), and a checkpointed frame is a LogicalRDD with no size
    statistics — the planner estimates it huge and plans SortMergeJoin,
    re-shuffling and re-sorting the EDGE side every iteration (measured
    at sf0.1: a 3-Exchange SMJ per half-iteration in hits/pagerank).
    Every caller already holds a driver-side scalar bounding the
    state's rows, so the broadcast decision is exact rather than
    estimated (optimization guide §3.1: "use an explicit broadcast when
    you know a side is small — estimates are often badly wrong") and
    scale-guarded by BROADCAST_STATE_MAX: a billion-node graph keeps
    the shuffled plan, a bounded one joins partition-locally with zero
    edge movement."""
    from pyspark.sql import functions as F

    if n_rows is not None and 0 <= n_rows <= BROADCAST_STATE_MAX:
        return F.broadcast(df)
    return df


def observed_checkpoint(df: DataFrame, **aggs) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df`` that also returns scalar
    aggregates over its rows, computed by the job that fills the
    checkpoint — ``{name: value}`` for each ``name=aggregate_column``.

    The iterative operators need a driver scalar after almost every
    checkpoint (an edge count gating the state broadcast, a renorm max,
    a convergence sum). Taking it with a separate ``agg().collect()``
    re-reads the checkpoint in its own job, two under AQE when the
    global aggregate has an exchange. ``Dataset.observe`` computes the
    same aggregates as the rows stream into the checkpoint, at no extra
    job.

    Correctness constraints:

    - The observe node sits DIRECTLY under the checkpoint, so its
      aggregates run in the fill job's final result stage. Spark applies
      result-stage accumulator updates once per partition even when a
      task is retried; an aggregate observed in a shuffle-map stage
      could double-count on a stage retry.
    - The checkpoint is EAGER: the metrics arrive only when the fill
      action finishes, and ``Observation.get`` blocks until then.
    - ``Observation`` objects are single-use, so every call builds a
      fresh one.

    Aggregates over an empty frame follow SQL: a count is 0, a max or
    sum is ``None``. With no aggregates this is a plain eager
    checkpoint and the dict is empty (``Dataset.observe`` rejects an
    empty list).
    """
    from pyspark.sql import Observation

    if not aggs:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    cp = df.observe(
        obs, *[col.alias(name) for name, col in aggs.items()]
    ).localCheckpoint(eager=True)
    return cp, obs.get


def _sql_literal(v) -> str:
    """``v`` (None, an int, a double or a list of them) as a Spark SQL
    literal: doubles through ``repr`` with the ``D`` suffix (parsed by
    ``Double.parseDouble``, so they round-trip exactly), lists as
    ``array(...)``."""
    import math

    if v is None:
        return "NULL"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isfinite(v):
            return f"{v!r}D"
        return f"CAST('{v}' AS DOUBLE)"  # nan, inf, -inf
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_sql_literal(x) for x in v) + ")"
    raise TypeError(f"literal_frame: no SQL literal for {type(v).__name__}")


def literal_frame(spark, rows, schema: str) -> DataFrame:
    """A frame of ``rows`` (tuples in ``schema`` order, ``schema`` a DDL
    string) built as one inline ``VALUES`` table, for a bounded driver
    artifact such as a codebook.

    The analyzer folds an inline table of literals into a
    ``LocalRelation``: collecting it launches no job and writing it one.
    ``createDataFrame`` of the same rows is an RDD-backed ``LogicalRDD``
    that costs a job to collect and two to write. Every value is cast to
    its declared type, so the schema is ``schema`` whatever the literals'
    own types; an empty ``rows`` gives an empty frame of that schema."""
    from pyspark.sql.types import _parse_datatype_string

    fields = _parse_datatype_string(schema).fields
    typed = [
        "(" + ", ".join(
            f"CAST({_sql_literal(v)} AS {f.dataType.simpleString()})"
            for v, f in zip(row, fields)
        ) + ")"
        for row in rows or [(None,) * len(fields)]
    ]
    names = ", ".join(f"`{f.name}`" for f in fields)
    out = spark.sql(f"SELECT * FROM VALUES {', '.join(typed)} AS t({names})")
    return out if rows else out.limit(0)


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """Lazy ``localCheckpoint`` of ``df``: no job runs here. The first
    action that reads the frame fills it, inside that action's own stage
    (the first task to reach a block computes it, later readers of the
    block get the stored copy), so a frame read by many branches of ONE
    plan is computed once and costs no job of its own.

    The frame is a ``LogicalRDD``, so filters on it are not pushed below
    it into the source scan. Free it with :func:`release_checkpoint` once
    that action has run."""
    return df.localCheckpoint(eager=False)


def release_checkpoint(df: DataFrame) -> None:
    """Free the executor blocks behind a frame returned by
    :func:`observed_checkpoint` or :func:`lazy_checkpoint`, once nothing
    will read it again.

    The frame is a ``LogicalRDD`` over the locally checkpointed RDD;
    unpersisting that RDD drops its blocks (and its entry in
    ``getPersistentRDDs``). A later read of the frame fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` instead of recomputing, so
    release only after every frame that reads it is materialized.
    """
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRDD":
        raise ValueError(
            f"release_checkpoint: expected a checkpointed frame, got {plan.nodeName()}"
        )
    plan.rdd().unpersist(False)


def fixed_point(
    state: DataFrame,
    step,
    rounds: int,
    *,
    obs: dict | None = None,
    converge_on: str | None = None,
    op: str = "fixed_point",
    cap_name: str = "rounds",
    done: int = 0,
    **observe,
) -> DataFrame:
    """Iterate ``state = step(state, obs)`` for at most ``rounds`` rounds
    and return the last state. ``step`` builds the next round's frame
    lazily; this loop owns everything around it.

    Checkpoint policy (the one place it is stated): every round's frame
    is cut from its lineage by an eager ``localCheckpoint``, so round N
    never replays rounds 1..N-1 and the fill job is the round's only
    action. A local checkpoint keeps its blocks on the executors that
    wrote them; losing one mid-loop fails the job rather than
    recomputing the lost round. A deployment that must survive executor
    loss swaps the ``localCheckpoint`` in :func:`observed_checkpoint`,
    which every round goes through, for a reliable ``checkpoint`` into
    a checkpoint directory — no operator holds its own copy of the
    policy.

    Observations: each ``name=aggregate_column`` in ``observe`` is
    computed by the job that fills the round's checkpoint
    (:func:`observed_checkpoint`) and handed to the NEXT round's
    ``step`` as ``obs`` — the first round gets the ``obs`` passed in.
    With no ``observe`` aggregates the round is a plain eager
    checkpoint and ``obs`` passes through unchanged.

    Convergence: with ``converge_on`` (a key of ``observe``), the loop
    stops after the first round whose observed scalar equals the
    previous one, seeded from ``obs`` — an input already at its fixed
    point costs one round. Running out of rounds before such a round
    warns (``RuntimeWarning`` naming ``op`` and ``cap_name``), pointed
    at the operator's caller. An operator that ran its first ``done``
    rounds itself (a first round determined by the edges alone) passes
    the rest as ``rounds``; the warning names the cap ``done + rounds``.
    Without ``converge_on``, ``rounds`` is a fixed round count and
    nothing warns.
    """
    import warnings

    for _ in range(rounds):
        state, new = observed_checkpoint(step(state, obs), **observe)
        if converge_on is not None and new[converge_on] == obs[converge_on]:
            return state
        if observe:
            obs = new
    if converge_on is not None:
        warnings.warn(
            f"{op}: stopped at {cap_name}={done + rounds} without converging; "
            "the result may not be the fixed point",
            RuntimeWarning,
            stacklevel=3,
        )
    return state


#: logical-plan node names whose presence implies the input already went
#: (or will go) through an Exchange — parallelism is then at least
#: spark.sql.shuffle.partitions and the small-scan guard is moot.
_WIDE_NODES = (
    "Join",
    "Aggregate",
    "Window",
    "Repartition",  # also matches RepartitionByExpression
    "Deduplicate",
    "Distinct",
    "Intersect",
    "Except",
    "FlatMapGroupsInPandas",
)


def _has_wide_node(jplan) -> bool:
    """True when any node in the logical-plan tree is one of
    :data:`_WIDE_NODES` (prefix match covers the families:
    RepartitionByExpression, FlatMapGroupsInPandas* stateful variants,
    Join subclasses).

    Implementation: ONE Py4J round-trip (``toString`` of the tree) and
    a local anchored regex — a per-node ``nodeName()``/``children()``
    walk costs ~4 driver round-trips per node, which on the tall narrow
    Project/Filter chains this guard exists for is exactly the
    per-element Py4J hazard the sign-bit builder documents
    (similarity.py). Node names sit at line starts after tree-drawing
    prefixes; anchoring there keeps a column NAMED "Window…" from
    spuriously matching. The rename risk a future Spark brings is
    covered by pin tests per wide node
    (tests/test_pipeline_ops.py::test_ensure_parallelism_probes_only_narrow_plans),
    which fail loudly on an upgrade instead of silently re-planning."""
    import re

    plan = jplan.toString()
    return (
        re.search(r"(?m)^[\s+:>-]*(" + "|".join(_WIDE_NODES) + r")", plan)
        is not None
    )


def ensure_parallelism(df: DataFrame, *key_cols: str) -> DataFrame:
    """Spread a compute-heavy input across the cluster when the source has
    fewer partitions than cores.

    Small parquet inputs (a dimension-table-sized documents file) arrive as
    ONE partition, serializing per-row CPU work (md5 shingling, feature
    extraction) on a single thread. At real scale the source already has
    >= cores partitions and this is a no-op — the guard never forces a
    shuffle of an already-parallel 100 TB scan.

    Cost discipline: the partition-count probe (``df.rdd``) physically
    plans the input subtree on the driver, so it only runs for NARROW
    plans — a scan plus projections/filters, where planning is trivially
    cheap and the one-partition hazard actually lives. Any plan already
    containing a wide node (join/agg/window/repartition/…) has crossed an
    Exchange, whose parallelism is ``spark.sql.shuffle.partitions`` —
    those inputs return unchanged without being re-planned. The wide-node
    scan inspects the ANALYZED plan (computed eagerly at DataFrame
    creation, so free), never the optimized/physical one — via
    :func:`_has_wide_node`'s ONE ``toString()`` round-trip with a
    line-start-anchored regex (see its docstring for why that beats a
    per-node ``nodeName`` JVM walk, which costs ~4 Py4J calls per node;
    the anchor keeps a column NAMED "Window…" from matching, and pin
    tests cover the node-rename risk of a Spark upgrade).
    """
    if _has_wide_node(df._jdf.queryExecution().analyzed()):
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)


def _partition_bound(df: DataFrame) -> int:
    """The shuffle-partition count a ``repartitionByRange`` of ``df``
    plans with, which bounds its partition ids (AQE only coalesces)."""
    return df.sparkSession._jsparkSession.sessionState().conf().numShufflePartitions()


def _range_checkpoint(
    df: DataFrame, order_cols, *, local_index: bool = False, **observe
) -> tuple[DataFrame, dict]:
    """``df`` range-partitioned on ``order_cols`` (partition i holds
    keys strictly before partition i+1's) and checkpointed with that
    placement frozen in ``_gpid``, plus the ``observe`` aggregates of
    the fill job (:func:`observed_checkpoint`). The checkpoint reports
    ``UnknownPartitioning`` under AQE, so per-partition work belongs in
    the fill job: a later ``Window.partitionBy("_gpid")`` re-shuffles.
    With ``local_index`` each partition is also sorted and ``_lidx``
    numbers its rows from 0: ``monotonically_increasing_id`` is the
    partition id in bits 33+ over the position, counted after the sort."""
    from pyspark.sql import functions as F

    ranged = df.repartitionByRange(*order_cols)
    gpid = F.spark_partition_id()
    cols = ["*", gpid.alias("_gpid")]
    if local_index:
        ranged = ranged.sortWithinPartitions(*order_cols)
        cols.append(
            (F.monotonically_increasing_id() - F.shiftleft(gpid.cast("long"), 33)).alias("_lidx")
        )
    return observed_checkpoint(ranged.select(*cols), **observe)


def _prefix_offset_expr(totals: list):
    """``(expr, total)``: ``expr`` looks up each ``_gpid``'s prefix offset
    (the sum of ``totals`` over the partitions before it) in ONE flat
    literal ``create_map``, not a P-deep chained ``CASE WHEN`` tree, so
    the expression depth is constant in P and whole-stage codegen
    survives P in the thousands. Every partition keeps its entry, so the
    lookup needs no fallback branch."""
    from pyspark.sql import functions as F

    pairs = []
    total = 0
    for pid, t in enumerate(totals):
        pairs += [F.lit(pid), F.lit(total)]
        total += int(t)
    return F.create_map(*pairs)[F.col("_gpid")], total


def global_row_number(
    df: DataFrame,
    order_cols,
    out_col: str = "global_rn",
) -> tuple[DataFrame, int]:
    """Attach a 1-based global row number over a TOTAL order without the
    single-task sort that ``Window.orderBy(...)`` (no partitionBy) plans.

    ``Window.orderBy`` with no partition key funnels every row through
    ONE WindowExec task, a straggler or OOM on a ~1.5B-row frame. Here
    the only jobs are the range shuffle's (sample, map, checkpoint
    fill): the fill numbers each row within its sorted range partition
    and observes the per-partition counts (:func:`_range_checkpoint`),
    and the rank is the partition's prefix offset (one literal-map
    lookup, :func:`_prefix_offset_expr`) plus the local index plus 1.

    ``order_cols`` must define a STRICT total order (include a unique
    tiebreaker column) or row numbers within ties are nondeterministic
    exactly as they are for plain ``row_number``. Returns
    ``(frame_with_out_col, total_row_count)``. The checkpoint is local;
    a deployment that must survive executor loss swaps it for a reliable
    one, the boundary :func:`fixed_point` states.
    """
    from pyspark.sql import functions as F

    if out_col in df.columns or "_gpid" in df.columns or "_lidx" in df.columns:
        raise ValueError(
            f"global_row_number: input already has {out_col!r}, '_gpid' or "
            "'_lidx' — pass a different out_col / rename the clashing column"
        )
    # A bin per possible id (at least the 2 bins the histogram needs): it
    # merges bins only past that, so its counts are exact, and a row
    # updates its partition's one bin.
    n_parts = _partition_bound(df)
    ranged, obs = _range_checkpoint(
        df, order_cols, local_index=True,
        h=F.histogram_numeric(F.col("_gpid"), F.lit(max(n_parts, 2))),
    )
    counts = [0] * n_parts
    for b in obs["h"] or []:
        counts[int(b["x"])] += int(b["y"])
    offset, total = _prefix_offset_expr(counts)
    return (
        ranged.withColumn(out_col, offset + F.col("_lidx") + 1).drop("_gpid", "_lidx"),
        total,
    )


def ntile_from_row_number(rn_col, n: int, k: int):
    """Closed-form ntile(k) from a 1-based global row number and the
    total row count — SQL-standard bucket sizing (the first ``n mod k``
    tiles get ``n div k + 1`` rows, the rest ``n div k``), bit-identical
    to ``F.ntile(k).over(Window.orderBy(...))`` but with no global-sort
    window anywhere in the plan. ``n`` and ``k`` are Python ints so the
    arithmetic folds to literals; ceil(a/b) is the integer form
    (a+b-1) div b on longs — INTEGER division (SQL ``div``), exact over
    the full int64 domain where a float ``/`` under F.floor drifts past
    2^53 (ADVICE r11) — and the q == 0 branch (fewer rows than tiles,
    where ntile assigns row i to tile i) never divides by zero."""
    from pyspark.sql import functions as F

    def idiv(a, b: int):
        return F.call_function("div", a.cast("long"), F.lit(b).cast("long"))

    q, r = divmod(n, k)
    if q == 0:
        return rn_col.cast("int")
    first = idiv(rn_col + q, q + 1)
    rest = r + idiv(rn_col - r * (q + 1) + q - 1, q)
    return (
        F.when(rn_col <= r * (q + 1), first).otherwise(rest).cast("int")
    )


def ranked_topk(df: DataFrame, order_cols, k: int, rank_col: str = "rank") -> DataFrame:
    """Deterministic global top-``k`` with a 1-based ``rank_col``, WITHOUT
    an unbounded partition-less window: ``orderBy(...).limit(k)`` plans as
    a distributed TakeOrderedAndProject (per-partition partial top-k,
    driver-side k-way merge — never a global sort), and the row_number
    window that then assigns ranks runs over <= k rows, a LITERAL bound,
    not data. That bounded case is the only place a partition-less
    WindowExec is scale-safe (the sweep in tests/test_plan_shapes.py
    encodes exactly this rule: empty partitionSpec ⇒ a limit node below
    it). ``order_cols`` must be a strict total order (unique tiebreaker)
    or both the cut at k and the ranks are nondeterministic — same
    contract as global_row_number."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    topk = df.orderBy(*order_cols).limit(k)
    return topk.withColumn(
        rank_col, F.row_number().over(Window.orderBy(*order_cols))
    )


def hadoop_child_names(spark, dir_path: str, prefix: str) -> list[str]:
    """Names of ``dir_path``'s immediate child DIRECTORIES that start
    with ``prefix``, with the prefix stripped — via the Hadoop
    FileSystem API (works on hdfs:// / s3a://, not just local paths),
    one driver-side listStatus, never a distributed listing job.
    Empty list when the directory doesn't exist yet.

    Shared by the partition-pruned minhash store (``pfx=``-partitioned
    probe, dedup.py) and the SCD2 versioned-snapshot store
    (``v=``-versioned history, scd.py)."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    path = jvm.org.apache.hadoop.fs.Path(dir_path)
    fs = path.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            out.append(name[len(prefix):])
    return out


def global_running_sum(
    df: DataFrame,
    order_cols,
    value_col: str,
    out_col: str = "running_sum",
) -> DataFrame:
    """Global ordered cumulative sum of an INTEGER column without the
    single-task ``Window.orderBy`` — the sum-shaped sibling of
    :func:`global_row_number` (sweep-and-accumulate primitives: peak
    concurrency, running balances, watermark levels):

      1. ``repartitionByRange`` on ``order_cols``, checkpointed
         (:func:`_range_checkpoint`), and a P-row driver collect of each
         partition's total. Observing the totals in the fill instead
         takes one filtered sum per possible id and row, slower at
         P = 32 (PLANS.md "No exchange without new data");
      2. per-partition cumulative sum (WindowExec PARTITIONED by the
         frozen id: a running sum has no in-partition primitive like
         ``monotonically_increasing_id``, so this exchange stays);
      3. add each partition's PREFIX TOTAL, one flat literal-map lookup
         (see :func:`_prefix_offset_expr`).

    ``order_cols`` must be a strict total order (unique tiebreaker);
    ``value_col`` must be integral (exact partials — float partials
    would make the prefix merge order-sensitive). NULL values count as
    zero, so an all-NULL range partition adds nothing. Same
    local-checkpoint deployment note as global_row_number.

    Delegates to :func:`global_running_sums` — callers needing several
    cumulatives over ONE order should call that form directly: it pays
    the range shuffle, the checkpoint and the collect ONCE for all
    columns instead of once per column.
    """
    return global_running_sums(df, order_cols, [value_col], [out_col])


def global_running_sums(
    df: DataFrame,
    order_cols,
    value_cols: list,
    out_cols: list,
) -> DataFrame:
    """Multi-column form of :func:`global_running_sum`: one
    ``repartitionByRange`` + frozen-pid checkpoint + ONE P-row driver
    collect computing every column's per-partition totals, then all
    cumulative windows share the single partitioned WindowExec. Same
    contracts (strict total order, integral values, NULL-as-zero)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if len(value_cols) != len(out_cols) or not value_cols:
        raise ValueError(
            "global_running_sums: value_cols/out_cols must be same-length"
            f" non-empty lists (got {value_cols!r}, {out_cols!r})"
        )
    if len(set(out_cols)) != len(out_cols):
        raise ValueError(
            "global_running_sums: out_cols must be distinct — a repeat "
            f"would silently last-win through withColumn (got {out_cols!r})"
        )
    for oc in out_cols:
        if oc in df.columns:
            raise ValueError(
                f"global_running_sums: input already has {oc!r}"
            )
    if "_gpid" in df.columns:
        raise ValueError("global_running_sums: input already has '_gpid'")
    vals = [
        F.coalesce(F.col(vc).cast("long"), F.lit(0)) for vc in value_cols
    ]
    ranged, _ = _range_checkpoint(df, order_cols)
    sums = {
        r["_gpid"]: r
        for r in ranged.groupBy("_gpid")
        .agg(*[F.sum(v).alias(f"_s{i}") for i, v in enumerate(vals)])
        .collect()
    }
    w = (
        Window.partitionBy("_gpid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pids = range(_partition_bound(df))
    out = ranged
    for i, (val, oc) in enumerate(zip(vals, out_cols)):
        offset, _ = _prefix_offset_expr([sums[p][f"_s{i}"] if p in sums else 0 for p in pids])
        out = out.withColumn(oc, (F.sum(val).over(w) + offset).cast("long"))
    return out.drop("_gpid")


def binary_flag_guard(col_name: str, ctx: str):
    """0/1-validated flag column: any value outside {0, 1} (or NULL)
    fails AT EXECUTION via an inline raise_error riding the same scan
    — the shared form of the guard the evaluation/stats/drift families
    each need (a flag of 2 or NULL would silently corrupt every count).
    ``ctx`` names the raising operator in the message.

    Non-integral values raise too: the membership test runs on a
    value-preserving DOUBLE cast, not the truncating int cast, so a
    fractional flag like 0.9 cannot truncate to 0 and slip through
    (ADVICE r13 — exactly the silent count corruption the guard exists
    to catch). Double is the widest promotion every flag-bearing type
    reaches losslessly at flag magnitudes: int/bigint/decimal/double
    flags compare exactly, booleans read 0.0/1.0, and a non-numeric
    string casts to NULL and raises."""
    from pyspark.sql import functions as F

    raw = F.col(col_name)
    d = raw.cast("double")
    return F.when(d.isin(0.0, 1.0), d.cast("int")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{ctx}: {col_name} must be 0/1, got "),
                F.coalesce(raw.cast("string"), F.lit("NULL")),
            )
        ).cast("int")
    )
