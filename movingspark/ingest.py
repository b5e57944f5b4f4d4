"""Ingestion: trajectory construction invariants + north-rule documents.

S1/S2 (reference trajectory.py:56-192, trajectory_collection.py:28-96):
the constructor invariants become one lazy plan — timestamp parse,
dedup-keep-first per (traj_id, t), ≥2-row group filter, optional
min_duration / min_length filters — shuffling once on traj_id.

North rule (BASELINE.json:14-15 / FIXTURES.md §3): interleaved
text+media documents (doc_id, spans array<struct<kind,text,media_ref,
offset>>) are synthesized deterministically JVM-side, exploded into
trajectory points (text spans carry "t_unix;lon;lat" payloads), and
reassembled with exact span-sequence equality (kind, text, media_ref,
order) as the per-row invariant, checked by positional span digests of
both orders taken around the reassembly's one aggregate (one scan, one
exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# S1/S2 — trajectory point-table construction
# ---------------------------------------------------------------------------


def make_traj_points(
    df: DataFrame,
    traj_id,
    t,
    x,
    y,
    obj_id=None,
    tiebreak=None,
    min_rows: int = 2,
) -> DataFrame:
    """Normalize an arbitrary DataFrame into the canonical point table.

    Applies the reference construction invariants (trajectory.py:121-130):
    duplicate timestamps within a trajectory dropped keep-first (first =
    lowest `tiebreak`, required for determinism in a distributed setting;
    pandas keep-first depends on input order, which has no distributed
    meaning), and groups with < min_rows rows discarded.
    """
    sel = [
        F.col(traj_id).cast("string").alias("traj_id"),
        F.col(t).cast("timestamp").alias("t"),
        F.col(x).cast("double").alias("x"),
        F.col(y).cast("double").alias("y"),
    ]
    if obj_id is not None:
        sel.append(F.col(obj_id).cast("string").alias("obj_id"))
    extra = [c for c in df.columns if c not in {traj_id, t, x, y, obj_id}]
    sel += [F.col(c) for c in extra]
    out = df.select(*sel)

    # Dedup via lag over the TRAJECTORY partitioning, not a (traj_id, t)
    # window: partitioning by (traj_id, t) would shuffle once for the
    # dedup and AGAIN for every downstream per-trajectory window. With
    # partitionBy(traj_id) ORDER BY (t, tiebreak), keep-first-per-t is
    # `lag(t) != t`, and the (traj_id)-hash exchange + (t,...) sort are
    # REUSED by the whole downstream window chain (lag/lead/row_number
    # order by t — a satisfied prefix). One exchange for the entire
    # canonical point pipeline instead of two.
    order = [F.col(tiebreak)] if tiebreak is not None else [F.monotonically_increasing_id()]
    w_traj = Window.partitionBy("traj_id").orderBy(F.col("t"), *order)
    out = (
        out.withColumn("__pt", F.lag("t").over(w_traj))
        .filter(F.col("__pt").isNull() | (F.col("__pt") != F.col("t")))
        .drop("__pt")
    )

    w_cnt = Window.partitionBy("traj_id")
    out = out.withColumn("__n", F.count("*").over(w_cnt)).filter(F.col("__n") >= min_rows).drop("__n")
    return out


def filter_min_duration(df: DataFrame, min_duration_s: float) -> DataFrame:
    """Drop trajectories shorter than min_duration seconds
    (trajectory_collection.py:246-253)."""
    w = Window.partitionBy("traj_id")
    dur = (F.unix_micros(F.max("t").over(w)) - F.unix_micros(F.min("t").over(w))) / 1e6
    return df.withColumn("__dur", dur).filter(F.col("__dur") > min_duration_s).drop("__dur")


def filter_min_length(df: DataFrame, min_length: float, latlon: bool = False) -> DataFrame:
    """Drop trajectories whose path length < min_length
    (trajectory_collection.py:246-253; length per trajectory.py:1005-1033)."""
    from movingspark.derive import _kinematics

    wlen = Window.partitionBy("traj_id")
    return (
        _kinematics(df, {"__seg": "distance"}, latlon=latlon)
        .withColumn("__len", F.sum("__seg").over(wlen))
        .filter(F.col("__len") > min_length)
        .drop("__seg", "__len")
    )


def events_as_traj_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's `events` table to trajectory points (FIXTURES.md §5):
    traj_id=user_id, t=ts, x=value, y=event_id%100 — deterministic and
    reproducible in DuckDB oracle SQL."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = ev.select(
        "event_id",
        F.col("user_id").cast("string").alias("traj_id"),
        F.col("ts").alias("t"),
        F.col("value").cast("double").alias("x"),
        (F.col("event_id") % 100).cast("double").alias("y"),
        "event_type",
    )
    return make_traj_points(ev, "traj_id", "t", "x", "y", tiebreak="event_id")


# SQL fragment used by every DuckDB oracle that consumes events-as-points.
EVENTS_POINTS_ORACLE = """
    SELECT * FROM (
        SELECT CAST(user_id AS VARCHAR) AS traj_id,
               ts AS t,
               CAST(value AS DOUBLE) AS x,
               CAST(event_id % 100 AS DOUBLE) AS y,
               event_type,
               event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS __rn,
               COUNT(*) OVER (PARTITION BY user_id) AS __n0
        FROM events
    ) WHERE __rn = 1
"""

# after dedup, re-check group size (dedup can shrink groups)
EVENTS_POINTS_ORACLE_FULL = f"""
    SELECT traj_id, t, x, y, event_type, event_id FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY traj_id) AS __n
        FROM ({EVENTS_POINTS_ORACLE})
    ) WHERE __n >= 2
"""


# ---------------------------------------------------------------------------
# North-rule interleaved documents (FIXTURES.md §3)
# ---------------------------------------------------------------------------


def synth_interleaved_docs(spark: SparkSession, n_docs: int) -> DataFrame:
    """Deterministic interleaved text+media document table, built entirely
    JVM-side (spark.range + sequence/transform — no Python in the loop).

    Doc i has 4 + (i % 13) spans alternating text/media; text spans carry
    "t_unix;lon;lat" observation payloads (closed form, seed-free).
    """
    doc = spark.range(n_docs).withColumnRenamed("id", "i")
    return (
        doc.select(
            F.format_string("doc%09d", F.col("i")).alias("doc_id"),
            F.expr(
                """
                transform(sequence(0, cast(3 + i % 13 as int)), k -> named_struct(
                  'kind', IF(k % 2 = 0, 'text', 'media'),
                  'text', IF(k % 2 = 0,
                             format_string('%d;%.6f;%.6f',
                               1500000000 + i * 3600 + k * 10,
                               CAST(-180.0 + ((i * 7919 + k * 104729) % 360000) / 1000.0 AS DOUBLE),
                               CAST(-85.0 + ((i * 104729 + k * 7919) % 170000) / 1000.0 AS DOUBLE)),
                             CAST(NULL AS STRING)),
                  'media_ref', IF(k % 2 = 1,
                                  concat('mem://media/', format_string('doc%09d', i), '/', k, '.bin'),
                                  CAST(NULL AS STRING)),
                  'offset', cast(k as int)))
                """
            ).alias("spans"),
        )
    )


# DuckDB rendition of the same closed-form table, for oracle checks.
def docs_oracle_sql(n_docs: int) -> str:
    return f"""
        SELECT printf('doc%09d', i) AS doc_id,
               list_transform(range(0, 4 + i % 13), k -> struct_pack(
                   kind := CASE WHEN k % 2 = 0 THEN 'text' ELSE 'media' END,
                   text := CASE WHEN k % 2 = 0 THEN printf('%d;%.6f;%.6f',
                               1500000000 + i * 3600 + k * 10,
                               -180.0 + ((i * 7919 + k * 104729) % 360000) / 1000.0,
                               -85.0 + ((i * 104729 + k * 7919) % 170000) / 1000.0)
                           END,
                   media_ref := CASE WHEN k % 2 = 1 THEN
                               'mem://media/' || printf('doc%09d', i) || '/' || k || '.bin'
                           END,
                   "offset" := CAST(k AS INT))) AS spans
        FROM range({n_docs}) t(i)
    """


def explode_doc_points(docs: DataFrame) -> DataFrame:
    """Explode text spans into trajectory points: traj_id=doc_id,
    t from the unix payload, x=lon, y=lat, keeping (offset) for
    reassembly. Media spans pass through untouched (opaque binary refs)."""
    # explode ALL spans then filter kind='text' with a plain predicate.
    # The tempting alternative — filter(spans, s -> s.kind = 'text')
    # before exploding — is a higher-order function: it knocks the WHOLE
    # downstream stage (explode, cell ids, join probes, ray-cast) off
    # whole-stage codegen onto the interpreted expression path, measured
    # 20-50x slower over 10^6 rows. A generator + simple filter keeps
    # the stage codegen'd; the extra media rows are discarded JVM-side
    # before anything expensive happens.
    # Parse "t;x;y" with substring_index, NOT split(): split is a regex
    # match that materializes an array, and Catalyst's collapsed
    # projection re-evaluates it once per extracted field — measured
    # ~30x slower over 10.5M spans (29 s vs 0.9 s on 32 cores).
    # substring_index is a plain char scan with no allocation.
    # The plan is SQL text applied in one step: a handful of Py4J calls,
    # where one Column operation at a time sent 204, each a driver round
    # trip while the JVM analyses the growing plan.
    return docs.sparkSession.sql("""
        SELECT doc_id AS traj_id,
               span.offset AS offset,
               timestamp_seconds(CAST(substring_index(span.text, ';', 1) AS BIGINT)) AS t,
               CAST(substring_index(substring_index(span.text, ';', 2), ';', -1) AS DOUBLE) AS x,
               CAST(substring_index(span.text, ';', -1) AS DOUBLE) AS y
        FROM (SELECT doc_id, explode(spans) AS span FROM {docs})
        WHERE span.kind = 'text'""", docs=docs)


def _reassembled(spans: str, cols: tuple[str, ...] = (), aggs: tuple[str, ...] = ()) -> str:
    """SQL text of the reassembly: the exploded spans `s` of the query
    `spans` regrouped per doc_id as `spans_sorted`
    array<struct<offset, kind, text, media_ref>> in offset order, next to
    the aggregates `aggs` over the projections `cols` of the same rows.
    The span struct is built in the projection below the aggregate, which
    is generated code; collect_list's update is interpreted and only
    copies it. sort_array, not array_sort: array_sort is a higher-order
    function (interpreted fallback), and the two give the same order for
    the non-null structs collect_list returns."""
    return f"""
        SELECT doc_id, {"".join(f"{a}, " for a in aggs)}sort_array(collect_list(span)) AS spans_sorted
        FROM (SELECT doc_id, {"".join(f"{c}, " for c in cols)}
                     struct(s.offset AS offset, s.kind AS kind, s.text AS text, s.media_ref AS media_ref) AS span
              FROM ({spans}))
        GROUP BY doc_id"""


def reassemble_docs(docs: DataFrame) -> DataFrame:
    """Round-trip: explode all spans and reassemble per doc ordered by
    offset — the north-rule span-sequence invariant (BASELINE.json:15)."""
    sp = "SELECT doc_id, explode(spans) AS s FROM {docs}"
    return docs.sparkSession.sql(f"""
        SELECT doc_id,
               transform(spans_sorted, x -> struct(x.kind AS kind, x.text AS text, x.media_ref AS media_ref,
                                                   x.offset AS offset)) AS spans
        FROM ({_reassembled(sp)})""", docs=docs)


def _span_hash(pos: str, s: str) -> str:
    """SQL text of the xxhash64 of (doc_id, array position, kind, text,
    media_ref) of one span; the position makes their XOR-fold
    order-sensitive. Null text / media_ref map to distinct sentinels so
    column identity survives xxhash64's null-skipping."""
    return (f"xxhash64(doc_id, {pos}, {s}.kind, coalesce({s}.text, ' <null-text>'), "
            f"coalesce({s}.media_ref, '<null-ref>'))")


# (doc_id, h, h_n, h_rt, h_rt_n) per doc with spans (_span_digests), as
# SQL text over `{docs}` applied in one step (explode_doc_points says why;
# built one Column at a time, the span invariant sent 619 Py4J calls)
_SPAN_DIGESTS = f"""
    SELECT doc_id, h, h_n, bit_xor({_span_hash('p', 'r')}) AS h_rt, count(p) AS h_rt_n
    FROM (SELECT doc_id, h, h_n, posexplode_outer(spans_sorted) AS (p, r)
          FROM ({_reassembled("SELECT doc_id, posexplode(spans) AS (pos, s) FROM {docs}",
                              (f"{_span_hash('pos', 's')} AS hs",), ("bit_xor(hs) AS h", "count(*) AS h_n"))}))
    GROUP BY doc_id, h, h_n"""


def _span_digests(docs: DataFrame) -> DataFrame:
    """(doc_id, h, h_n, h_rt, h_rt_n) per doc with spans: XOR-folded span
    hashes and count in the original order and in the reassembly's. One
    scan, one posexplode, one exchange on doc_id: the original digest is
    folded in the reassembly's own aggregate, and the rebuilt one groups on
    (doc_id, h, h_n), which that partitioning already satisfies.
    posexplode_outer keeps a doc whose reassembly came back empty, and
    count(p) then differs from h_n."""
    return docs.sparkSession.sql(_SPAN_DIGESTS, docs=docs)


def span_invariant_violations(docs: DataFrame) -> DataFrame:
    """Rows = docs whose explode->reassemble round trip does NOT preserve
    the exact span sequence (kind, text, media_ref, order); docs with
    empty or null spans never appear. Both orders reduce to 8-byte
    digests (_span_digests), so the only payload-sized shuffle is the
    reassembly itself, the operator under test. (64-bit digest equality
    is probabilistic in the cryptographic sense; the pinned tests assert
    exact array equality on small inputs.)"""
    return docs.sparkSession.sql(f"SELECT doc_id FROM ({_SPAN_DIGESTS}) WHERE h != h_rt OR h_n != h_rt_n", docs=docs)


def synth_skewed_points(
    spark: SparkSession,
    n_points: int,
    hot_frac: float = 0.30,
    hot_traj: bool = False,
    n_trajs: int = 50_000,
) -> DataFrame:
    """Deterministic planted-skew point table for skew benchmarks: a
    `hot_frac` share of rows lands inside ONE res-6 tile cell (a 0.5
    degree patch at lon [10.0, 10.5), lat [45.0, 45.5) — cell width at
    res 6 is 5.625 x 2.8125 degrees), the rest spread closed-form
    uniform over the world. At hot_frac=0.3 the hot cell holds ~1000x
    the mean occupied cell's rows. hot_traj additionally funnels every
    hot row into a single mega-trajectory (the sort/window-skew case).
    hot_frac=0.0 gives the uniform twin at identical row count and
    schema. All JVM-side closed form — no Python, no randomness."""
    r = spark.range(n_points).withColumnRenamed("id", "i")
    i = F.col("i")
    is_hot = (i % 100) < int(round(hot_frac * 100))
    lon = F.when(is_hot, 10.0 + ((i * 31) % 500) / F.lit(1000.0)).otherwise(
        -180.0 + ((i * 7919) % 360000) / F.lit(1000.0)
    )
    lat = F.when(is_hot, 45.0 + ((i * 37) % 500) / F.lit(1000.0)).otherwise(
        -85.0 + ((i * 104729) % 170000) / F.lit(1000.0)
    )
    traj = F.format_string("t%07d", i % n_trajs)
    if hot_traj:
        traj = F.when(is_hot, F.lit("hot")).otherwise(traj)
    return r.select(
        traj.alias("traj_id"),
        F.timestamp_seconds(F.lit(1500000000) + i).alias("t"),
        lon.cast("double").alias("x"),
        lat.cast("double").alias("y"),
        (i % 1000).cast("double").alias("value"),
    )


def geotag_media_spans(docs: DataFrame, res: int, bounds=None) -> DataFrame:
    """Geotag every media span of an interleaved document with the
    location of the latest PRECEDING text-span observation in the same
    document (span order = offset, the north-rule sequence invariant) —
    the join that turns opaque media refs into spatially queryable
    rows, e.g. "all images captured inside this AOI".

    Pure window algebra, no join and no Python: explode all spans, parse
    the text payloads (null for media), forward-fill (t, x, y) with
    last(ignorenulls) over the per-document offset window, keep media
    rows, assign the tile cell. One hash exchange on doc_id — the same
    partitioning every doc pipeline already uses; media spans with no
    preceding text span (document starts with media) carry null
    location and cell, preserved for auditability."""
    from movingspark import cells as _cells

    bounds = bounds if bounds is not None else _cells.WORLD
    sp = docs.select("doc_id", F.explode("spans").alias("span"))
    txt = F.when(F.col("span.kind") == "text", F.col("span.text"))
    parsed = sp.select(
        "doc_id",
        F.col("span.offset").alias("offset"),
        F.col("span.kind").alias("kind"),
        F.col("span.media_ref").alias("media_ref"),
        F.timestamp_seconds(F.substring_index(txt, ";", 1).cast("long")).alias("__t"),
        F.substring_index(F.substring_index(txt, ";", 2), ";", -1)
        .cast("double")
        .alias("__x"),
        F.substring_index(txt, ";", -1).cast("double").alias("__y"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        parsed.withColumn("t", F.last("__t", ignorenulls=True).over(w))
        .withColumn("x", F.last("__x", ignorenulls=True).over(w))
        .withColumn("y", F.last("__y", ignorenulls=True).over(w))
        .filter(F.col("kind") == "media")
    )
    cell = F.when(
        F.col("x").isNotNull(),
        _cells.cell_id_expr("x", "y", res, bounds),
    )
    return filled.select("doc_id", "offset", "media_ref", "t", "x", "y", cell.alias("cell"))
