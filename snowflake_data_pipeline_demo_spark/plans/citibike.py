"""The reference pipeline's relational core, mapped onto the testdata
star schema (FIXTURES.md §B mapping).

Analog dictionary (deterministic, derived only from testdata columns):

| reference (citibike)          | testdata analog                          |
|-------------------------------|------------------------------------------|
| provider share ``trips``      | ``lineitem`` (fact)                      |
| ``stations`` dim (930 rows)   | ``supplier`` (role-playing start/end)    |
| ``programs`` dim (61 rows)    | ``nation`` (25 rows)                     |
| ``security`` table            | fixture derived from ``region``          |
| 17-field JSON trip doc        | same 17 fields, values from the analogs  |

The unload builder (:func:`trip_docs`) reproduces dp_setup.sql:57-81:
star join fact->dims, ``object_construct`` the denormalized document,
serialize to JSON text. :func:`extract_trips` reproduces the push_trips
extraction (dp_setup.sql:192-203): parse the document once, path-cast
every field. stations/programs builders reproduce the two insert-only
MERGE sources (dp_setup.sql:211-245) including the UNION-distinct trap
(Snowflake UNION = UNION DISTINCT, dp_setup.sql:235).

Scale notes: the star join broadcasts both dims (supplier 100 rows x2
roles, nation 25); Catalyst auto-broadcasts under the 10MB threshold so
the fact table streams through a single stage with no shuffle. The
UNION-distinct dedups on station_id via hash aggregate — partial
aggregation map-side keeps the shuffle tiny (930 distinct keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.variant import (
    epoch_micros_to_ntz, flatten_variant, ntz_to_epoch_micros,
    object_construct_json,
)
from ..sources.catalog import TRIP_DOC_SCHEMA

#: programs analog cardinality (nation table — always 25 rows, keys 0..24)
_N_PROGRAMS = 25


def _fact_with_keys(lineitem: DataFrame, n_stations: int) -> DataFrame:
    """Derive deterministic station/program keys for each fact row.

    ``l_suppkey`` is already a valid supplier (station) key; the end
    station role-plays via ``(l_suppkey + l_linenumber) % n_stations``
    (supplier keys are 0-based contiguous in the testdata).
    """
    return lineitem.select(
        F.col("l_quantity").cast("int").alias("tripduration"),
        F.col("l_shipdate").cast("timestamp_ntz").alias("starttime"),
        (F.col("l_shipdate") + F.make_interval(mins=F.col("l_quantity").cast("int")))
        .cast("timestamp_ntz").alias("stoptime"),
        F.col("l_suppkey").cast("int").alias("start_station_id"),
        ((F.col("l_suppkey") + F.col("l_linenumber")) % n_stations)
        .cast("int").alias("end_station_id"),
        F.col("l_orderkey").cast("int").alias("bikeid"),
        F.col("l_returnflag").alias("usertype"),
        (F.lit(1940) + (F.col("l_orderkey") % 60)).cast("int").alias("birth_year"),
        (F.col("l_linenumber") % 3).cast("int").alias("gender"),
        (F.col("l_partkey") % _N_PROGRAMS).cast("int").alias("program_id"),
    )


def trip_docs(lineitem: DataFrame, supplier: DataFrame,
              nation: DataFrame) -> DataFrame:
    """dp_setup.sql:57-81 — star join + ``object_construct`` -> one JSON
    document per trip, column ``v`` (plus ``day`` for the day-partition
    prefix, dp_setup.sql:57).

    Role-playing join: supplier aliased twice (start/end), exactly the
    stations ``ss``/``es`` pattern (dp_setup.sql:77-78).

    The one driver-side action is ``supplier.count()`` — a dim-table
    count (100 rows/SF step), needed to keep the derived end-station key
    in range at every scale factor.
    """
    fact = _fact_with_keys(lineitem, supplier.count())
    ss = _station_dim(supplier).alias("ss")
    es = _station_dim(supplier).alias("es")
    pr = _program_dim(nation).alias("pr")

    joined = (
        fact.alias("t")
        .join(F.broadcast(ss), F.col("t.start_station_id") == F.col("ss.station_id"), "inner")
        .join(F.broadcast(es), F.col("t.end_station_id") == F.col("es.station_id"), "inner")
        .join(F.broadcast(pr), F.col("t.program_id") == F.col("pr.program_id"), "inner")
    )
    doc = object_construct_json({
        "tripduration": F.col("t.tripduration"),
        # timestamps travel as epoch-micros longs (catalog.TRIP_DOC_FIELDS)
        "starttime": ntz_to_epoch_micros(F.col("t.starttime")),
        "stoptime": ntz_to_epoch_micros(F.col("t.stoptime")),
        "start_station_id": F.col("t.start_station_id"),
        "start_station_name": F.col("ss.station_name"),
        "start_station_latitude": F.col("ss.station_latitude"),
        "start_station_longitude": F.col("ss.station_longitude"),
        "end_station_id": F.col("t.end_station_id"),
        "end_station_name": F.col("es.station_name"),
        "end_station_latitude": F.col("es.station_latitude"),
        "end_station_longitude": F.col("es.station_longitude"),
        "bikeid": F.col("t.bikeid"),
        "usertype": F.col("t.usertype"),
        "birth_year": F.col("t.birth_year"),
        "gender": F.col("t.gender"),
        "program_id": F.col("t.program_id"),
        "program_name": F.col("pr.program_name"),
    })
    return joined.select(
        doc.alias("v"),
        F.date_format(F.col("t.starttime"), "yyyy-MM-dd").alias("day"),
    )


def _station_dim(supplier: DataFrame) -> DataFrame:
    """supplier -> stations-shaped dim (id, name, lat, lon)."""
    return supplier.select(
        F.col("s_suppkey").cast("int").alias("station_id"),
        F.col("s_name").alias("station_name"),
        (F.col("s_nationkey") * F.lit(1.5)).cast("double").alias("station_latitude"),
        (F.col("s_acctbal") / F.lit(100.0)).cast("double").alias("station_longitude"),
    )


def _program_dim(nation: DataFrame) -> DataFrame:
    """nation -> programs-shaped dim."""
    return nation.select(
        F.col("n_nationkey").cast("int").alias("program_id"),
        F.col("n_name").alias("program_name"),
    )


def extract_trips(raw: DataFrame, v_col: str = "v") -> DataFrame:
    """push_trips extraction (dp_setup.sql:192-203): parse the document
    once, path-cast all 17 fields to typed columns. The epoch-micros
    wire timestamps come back as timestamp_ntz here (the ::timestamp_ntz
    cast edge of dp_setup.sql:194-195)."""
    flat = flatten_variant(raw, v_col, TRIP_DOC_SCHEMA)
    return flat.select(
        *[
            epoch_micros_to_ntz(f.name).alias(f.name)
            if f.name in ("starttime", "stoptime") else F.col(f.name)
            for f in TRIP_DOC_SCHEMA.fields
        ]
    )


def trips_projection(extracted: DataFrame) -> DataFrame:
    """The 10-column modelled.trips projection (dp_setup.sql:193-202)."""
    return extracted.select(
        "tripduration", "starttime", "stoptime", "start_station_id",
        "end_station_id", "bikeid", "usertype", "birth_year", "gender",
        "program_id",
    )


def programs_from_raw(extracted: DataFrame) -> DataFrame:
    """push_programs MERGE source: ``SELECT DISTINCT program_id,
    program_name`` (dp_setup.sql:213-214)."""
    return extracted.select("program_id", "program_name").distinct()


def stations_from_raw(extracted: DataFrame) -> DataFrame:
    """push_stations MERGE source (dp_setup.sql:229-241): UNION of start-
    and end-station projections. Snowflake UNION = UNION DISTINCT, so an
    explicit ``.distinct()`` follows Spark's UNION-ALL (SURVEY §7.3)."""
    start = extracted.select(
        F.col("start_station_id").alias("station_id"),
        F.col("start_station_name").alias("station_name"),
        F.col("start_station_latitude").alias("station_latitude"),
        F.col("start_station_longitude").alias("station_longitude"),
        F.concat(F.lit("Station at "), F.col("start_station_name")).alias("station_comment"),
    )
    end = extracted.select(
        F.col("end_station_id").alias("station_id"),
        F.col("end_station_name").alias("station_name"),
        F.col("end_station_latitude").alias("station_latitude"),
        F.col("end_station_longitude").alias("station_longitude"),
        F.concat(F.lit("Station at "), F.col("end_station_name")).alias("station_comment"),
    )
    return start.union(end).distinct()


def security_fixture(spark: SparkSession, region: DataFrame) -> DataFrame:
    """The ``security`` table analog (dp_demo.sql:250, FIXTURES.md A2):
    one reader account per region whose LIKE ``filter`` is a *prefix
    pattern over program (nation) names* — ``NATION_<k>%`` matches
    NATION_k plus NATION_k0..k9, so accounts see different, overlapping
    row sets (the NYCHA/JCHA shape, dp_demo.sql:265-275) — plus the
    publisher row the masking subquery looks for (dp_demo.sql:226-228)."""
    accounts = region.select(
        F.col("r_name").alias("name"),
        F.concat(F.lit("ACCT_"), F.col("r_name")).alias("account"),
        F.concat(F.lit("NATION_"), F.col("r_regionkey").cast("string"), F.lit("%")).alias("filter"),
    )
    publisher = spark.createDataFrame(
        [("Publisher Account", "PUBLISHER", "%")],
        "name string, account string, filter string",
    )
    return accounts.unionByName(publisher)
