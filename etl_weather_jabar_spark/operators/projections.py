"""Projection operators.

P1 (the Silver flatten, dags/transform_raw_weather.py:36-58) plus the
event-time CASE (F8, transform_raw_weather.py:29-32): nested Bronze doc →
20-column flat row. Pure ``select`` — Catalyst prunes the unread nested
fields down to the Parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TS_FMT = "yyyy-MM-dd HH:mm:ss"

# F8 (:func:`event_time`) as SQL text
_EVENT_TIME = (
    "CASE WHEN `fetch_method` = 'history' THEN `dag_times`.`logical_date` "
    "ELSE `dag_times`.`end` END"
)
_TS = f"to_timestamp({_EVENT_TIME}, '{TS_FMT}')"

# the 20 Silver columns, as SQL text
_SILVER = [
    "`_id`",
    f"date_format({_TS}, '{TS_FMT}') AS `timestamp`",
    f"date_format({_TS}, 'yyyy-MM-dd') AS `date`",
    f"date_format({_TS}, 'HH') AS `hour`",
    f"date_format({_TS}, 'mm') AS `minute`",
    "`location`.`id` AS `location_id`",
    "`location`.`name` AS `location_name`",
    "`location`.`lat` AS `lat`",
    "`location`.`lon` AS `lon`",
    "`current`.`temp_c` AS `temp_c`",
    "`current`.`feelslike_c` AS `feelslike_c`",
    "`current`.`humidity` AS `humidity`",
    "`current`.`wind_kph` AS `wind_kph`",
    "`current`.`wind_dir` AS `wind_dir`",
    "`current`.`wind_degree` AS `wind_degree`",
    "`current`.`precip_mm` AS `precip_mm`",
    "`current`.`is_day` AS `is_day`",
    "`current`.`uv` AS `uv`",
    "`current`.`cloud` AS `cloud`",
    "`current`.`condition`.`text` AS `condition`",
]


def event_time(df: DataFrame) -> Column:
    """F8: history rows are timestamped by their logical date, live rows by
    the interval end (transform_raw_weather.py:29-32)."""
    return F.expr(_EVENT_TIME)


def flatten_raw(df: DataFrame) -> DataFrame:
    """Bronze → Silver projection (P1 + P7 null-rejection + F2 derivations).

    The reference drops rows with missing ``location.id``
    (transform_raw_weather.py:33-35) and derives string
    timestamp/date/hour/minute via strftime (:38-41). We standardize on the
    DAG formats ("HH", "mm") — the run-once/ debug variants drifted
    (SURVEY §7.2). One string ``where`` and one ``selectExpr`` of SQL text,
    so the plan builds in a few JVM calls.
    """
    return df.where("`location`.`id` IS NOT NULL").selectExpr(*_SILVER)  # P7
