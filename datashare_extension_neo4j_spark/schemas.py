"""StructType schemas for every table the engine touches.

Input shape per BASELINE.json input_hint: pages(url, warc_ts, html,
text, lang). Document / mention row shapes mirror the reference's
fixed column sets (/root/reference/neo4j-app/neo4j_app/constants.py:20-31,95-107).
"""

from pyspark.sql import types as T

# primary input — Common-Crawl-style web pages (BASELINE.json:15)
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# mention rows (reference NE_COLUMNS)
MENTION_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("documentId", T.StringType(), False),
        T.StructField("category", T.StringType(), False),
        T.StructField("mention", T.StringType(), True),
        T.StructField("mentionNorm", T.StringType(), False),
        T.StructField("mentionNormTextLength", T.IntegerType(), True),
        T.StructField("extractor", T.StringType(), True),
        T.StructField("extractorLanguage", T.StringType(), True),
        T.StructField("offsets", T.ArrayType(T.LongType()), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
