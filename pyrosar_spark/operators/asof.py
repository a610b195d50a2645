"""Temporal interval / as-of joins (OSV orbit-file matching).

Reference semantics (``pyroSAR/S1/auxil.py:545-587``):
 - a file matches a scene timestamp ``t`` iff ``start <= t <= stop``
   (lexicographic string compare on ``YYYYmmddTHHMMSS``) and the file
   name starts with the sensor;
 - among matches of one type, the **latest publish** wins
   (``S1/auxil.py:576-579``);
 - with ``osvtype=['POE','RES']``, POE is preferred and RES is the
   fallback (``S1/auxil.py:583-587``).
Also: the RES-superseded prune (``S1/auxil.py:480-489``): delete RES
files whose ``stop`` predates the newest POE coverage. And the generic
interval-overlap filter ``start2 < stop AND stop2 > start``
(``S1/auxil.py:278``).

Scale notes: the OSV table is tiny (orbit files per year ≈ 10^3-10^4)
→ always broadcast; the join is a broadcast range join, so no shuffle
of the scene side at all. The window dedup partitions by scene key —
high cardinality, no skew. For two *large* interval sides, use
:func:`salted_interval_join` which buckets time into coarse slots
(equi-join key) exactly like the cell-grid spatial join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def _best_covering(
    scenes: DataFrame, intervals: DataFrame, admit: Column, prefer: list[Column]
) -> DataFrame:
    """Each scene's best interval covering its ``start``: the scenes
    (``doc_id``, ``start`` as ``_t``, ``sensor`` as ``_sensor``) left-join
    the broadcast ``intervals`` on ``_start <= _t <= _stop`` and
    ``admit``, then ``row_number`` by ``doc_id`` over ``prefer`` keeps
    the first. A scene no interval covers keeps one all-NULL match."""
    s = scenes.select("doc_id", F.col("start").alias("_t"), F.col("sensor").alias("_sensor"))
    cand = s.join(
        F.broadcast(intervals),
        (F.col("_t") >= F.col("_start")) & (F.col("_t") <= F.col("_stop")) & admit,
        how="left",
    )
    w = W.partitionBy("doc_id").orderBy(*prefer)
    return cand.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") == 1)


def osv_match(scenes: DataFrame, osv: DataFrame, osvtype: str | list[str] = "POE") -> DataFrame:
    """Best orbit file per scene (left join; NULL when no match): one
    whose interval covers the scene's ``start`` for its ``sensor``.

    Output: ``doc_id`` + ``osv_filename``/``osv_type``/``osv_publish``.
    """
    types = [osvtype] if isinstance(osvtype, str) else list(osvtype)
    o = osv.where(F.col("type").isin(types)).select(
        F.col("sensor").alias("_osv_sensor"),
        F.col("type").alias("osv_type"),
        F.col("publish").alias("osv_publish"),
        F.col("start").alias("_start"),
        F.col("stop").alias("_stop"),
        F.col("filename").alias("osv_filename"),
    )
    best = _best_covering(
        scenes,
        o,
        F.col("_osv_sensor") == F.col("_sensor"),
        [
            F.when(F.col("osv_type") == "POE", 0).otherwise(1),
            F.col("osv_publish").desc(),
            F.col("osv_filename").asc(),
        ],
    )
    return best.select("doc_id", "osv_filename", "osv_type", "osv_publish")


def res_prune(osv: DataFrame) -> DataFrame:
    """Drop RES files fully superseded by POE coverage
    (``S1/auxil.py:480-489``): RES with ``stop < max(POE.stop)``."""
    max_poe = osv.where(F.col("type") == "POE").groupBy("sensor").agg(
        F.max("stop").alias("_max_poe_stop")
    )
    res = osv.where(F.col("type") == "RES")
    keep_res = (
        res.join(F.broadcast(max_poe), on="sensor", how="left")
        .where(F.col("_max_poe_stop").isNull() | (F.col("stop") >= F.col("_max_poe_stop")))
        .drop("_max_poe_stop")
    )
    return osv.where(F.col("type") != "RES").unionByName(keep_res)


def overlap_filter(
    df: DataFrame, start_col: str, stop_col: str, window_start: str, window_stop: str
) -> DataFrame:
    """Interval-overlap predicate ``start2 < stop AND stop2 > start``
    (``S1/auxil.py:227,278``)."""
    return df.where((F.col(start_col) < window_stop) & (F.col(stop_col) > window_start))


def ers_pass_lookup(scenes: DataFrame, passdb: DataFrame) -> DataFrame:
    """ERS pass-database lookup with the ERS1→ERS2 fallback cascade
    (J4, reference ``ERS/auxil.py:118-123``): each scene takes the pass
    (phase/cycle) whose interval covers its timestamp for its OWN
    sensor; an ERS1 scene whose own table has a gap falls back to the
    ERS2 pass covering the same instant (the tandem satellites share
    the orbit geometry). One broadcast interval join + a preference
    window — the pass table is tiny (hundreds of phases), the scene
    side never shuffles.

    ``passdb`` columns: ``sensor, phase, cycle, start, stop``.
    Output: ``doc_id`` + ``phase``/``cycle``/``pass_sensor`` (NULL when
    neither table covers the scene).
    """
    p = passdb.select(
        F.col("sensor").alias("_p_sensor"),
        "phase",
        "cycle",
        F.col("start").alias("_start"),
        F.col("stop").alias("_stop"),
    )
    best = _best_covering(
        scenes,
        p,
        (F.col("_p_sensor") == F.col("_sensor"))
        | ((F.col("_sensor") == "ERS1") & (F.col("_p_sensor") == "ERS2")),
        [
            # own-sensor pass wins; the ERS2 fallback ranks second
            (F.col("_p_sensor") != F.col("_sensor")).cast("int"),
            F.col("_start").desc(),
            F.col("phase").asc(),
            F.col("cycle").asc(),
        ],
    )
    return best.select("doc_id", "phase", "cycle", F.col("_p_sensor").alias("pass_sensor"))


def salted_interval_join(
    events: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str = "start",
    stop_col: str = "stop",
    slot_seconds: int = 86400,
    ts_fmt: str | None = "yyyyMMdd'T'HHmmss",
    n_salt: int = 1,
    salt_col: str | None = None,
) -> DataFrame:
    """Large-large interval join via time-slot bucketing + optional salt.

    Both sides get an integer slot key (intervals exploded across every
    slot they overlap), the join becomes an equi-join on the slot —
    shuffle-partitionable and AQE-skew-splittable — and the exact
    interval predicate refines. This is the time-axis analog of the
    cell-grid spatial join, and the "salted range join" the north rule
    asks for.

    ``n_salt > 1`` adds explicit salting for hot slots (orbit-track
    bursts concentrate many events in one slot, which AQE can only
    split AFTER the map stage has skewed): the interval side is
    replicated across ``n_salt`` sub-keys and each event picks ONE
    deterministically via ``pmod(xxhash64(salt_col), n_salt)``, so a
    hot slot's events spread over ``n_salt`` reducers at the cost of
    ``n_salt``× the (small) interval-slot fan-out. ``salt_col`` must
    name a roughly-uniform event column (an id); it is required when
    ``n_salt > 1``. Results are salt-invariant — pinned by test and by
    the ``salted_range_join`` DuckDB oracle, which runs at ``n_salt=4``.

    ``ts_fmt=None`` means the three columns are already timestamps
    (slotting truncates to whole seconds, which cannot move a covered
    point out of its interval's slot range: ``floor`` is monotone and
    the refine compares full-precision values).
    """

    def _ts(col: str) -> Column:
        return F.to_timestamp(F.col(col), ts_fmt) if ts_fmt else F.col(col)

    ev_slot = (F.unix_timestamp(_ts(ts_col)) / slot_seconds).cast("long")
    iv_first = (F.unix_timestamp(_ts(start_col)) / slot_seconds).cast("long")
    iv_last = (F.unix_timestamp(_ts(stop_col)) / slot_seconds).cast("long")
    e = events.withColumn("_slot", ev_slot)
    i = intervals.withColumn("_slot", F.explode(F.sequence(iv_first, iv_last)))
    keys = ["_slot"]
    if n_salt > 1:
        if salt_col is None:
            raise ValueError("n_salt > 1 requires salt_col (a uniform event column)")
        e = e.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salt)))
        i = i.withColumn(
            "_salt",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(n_salt - 1).cast("long"))
            ),
        )
        keys.append("_salt")
    joined = e.join(i, on=keys, how="inner").where(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(stop_col))
    )
    return joined.drop(*keys)
