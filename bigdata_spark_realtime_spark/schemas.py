"""All record schemas — the reference's 8 beans + envelopes (SURVEY.md §1.4).

StructTypes replace the reference's fastjson-parsed case classes
(`bean/*.scala`): `from_json` with these schemas reproduces its
schema-on-read behavior exactly — unknown JSON fields dropped, missing
fields NULL (`app/dwd_DauApp.scala:62-68`).
"""

from __future__ import annotations

from pyspark.sql import types as T


def _s(*fields: tuple) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


STR = T.StringType()
LONG = T.LongType()
DOUBLE = T.DoubleType()
INT = T.IntegerType()

# ---------------------------------------------------------------------------
# raw nested event log consumed by the base_log split pipeline
# (shape per `app/ods_BaseLogApp.scala:86-175`, FIXTURES.md §2.1)
# ---------------------------------------------------------------------------

COMMON_SCHEMA = _s(
    ("ar", STR), ("uid", STR), ("os", STR), ("ch", STR), ("is_new", STR),
    ("md", STR), ("mid", STR), ("vc", STR), ("ba", STR),
)

PAGE_SCHEMA = _s(
    ("page_id", STR), ("item", STR), ("item_type", STR),
    ("during_time", LONG), ("last_page_id", STR), ("source_type", STR),
)

DISPLAY_SCHEMA = _s(
    ("display_type", STR), ("item", STR), ("item_type", STR),
    ("order", STR), ("pos_id", STR),
)

ACTION_SCHEMA = _s(
    ("action_id", STR), ("item", STR), ("item_type", STR), ("ts", LONG),
)

START_SCHEMA = _s(
    ("entry", STR), ("loading_time", LONG), ("open_ad_id", STR),
    ("open_ad_ms", LONG), ("open_ad_skip_ms", LONG),
)

ERR_SCHEMA = _s(("error_code", INT), ("msg", STR))

RAW_LOG_SCHEMA = T.StructType(
    [
        T.StructField("common", COMMON_SCHEMA),
        T.StructField("page", PAGE_SCHEMA),
        T.StructField("displays", T.ArrayType(DISPLAY_SCHEMA)),
        T.StructField("actions", T.ArrayType(ACTION_SCHEMA)),
        T.StructField("start", START_SCHEMA),
        T.StructField("err", ERR_SCHEMA),
        T.StructField("ts", LONG),
    ]
)

# ---------------------------------------------------------------------------
# Maxwell-style CDC envelope (`app/ods_BaseDBApp.scala:57-63,89-114`)
# data kept as raw JSON string → routed whole, parsed downstream
# ---------------------------------------------------------------------------

CDC_SCHEMA = _s(("type", STR), ("table", STR), ("data", STR))

# ---------------------------------------------------------------------------
# DWD beans (projection targets)
# ---------------------------------------------------------------------------

#: OrderInfo — 14 source fields (`bean/OrderInfo.scala:3-17`); derived
#: fields (create_date/hour, province_*, user_age/gender) added by joins
ORDER_INFO_SCHEMA = _s(
    ("id", LONG), ("province_id", LONG), ("order_status", STR),
    ("user_id", LONG), ("total_amount", DOUBLE),
    ("activity_reduce_amount", DOUBLE), ("coupon_reduce_amount", DOUBLE),
    ("original_total_amount", DOUBLE), ("feight_fee", DOUBLE),
    ("feight_fee_reduce", DOUBLE), ("expire_time", STR),
    ("refundable_time", STR), ("operate_time", STR), ("create_time", STR),
)

#: OrderDetail — 10 fields (`bean/OrderDetail.scala:3-14`)
ORDER_DETAIL_SCHEMA = _s(
    ("id", LONG), ("order_id", LONG), ("sku_id", LONG),
    ("order_price", DOUBLE), ("sku_num", LONG), ("sku_name", STR),
    ("create_time", STR), ("split_total_amount", DOUBLE),
    ("split_activity_amount", DOUBLE), ("split_coupon_amount", DOUBLE),
)

#: the order streams' wire rows: each bean plus ``event_ts``, the epoch
#: millis the stream-stream join watermarks on
ORDER_INFO_STREAM_SCHEMA = T.StructType(
    ORDER_INFO_SCHEMA.fields + [T.StructField("event_ts", LONG)]
)
ORDER_DETAIL_STREAM_SCHEMA = T.StructType(
    ORDER_DETAIL_SCHEMA.fields + [T.StructField("event_ts", LONG)]
)

# dimension rows (raw JSON in Redis in the reference; tables here)
DIM_USER_SCHEMA = _s(("id", LONG), ("gender", STR), ("birthday", STR))
DIM_PROVINCE_SCHEMA = _s(
    ("id", LONG), ("name", STR), ("iso_code", STR),
    ("iso_3166_2", STR), ("area_code", STR),
)
