"""Zenput submission transforms (SURVEY.md §2.1 S9, §2.8 F10-F11,
§2.10).

The reference walks each submission dict row-at-a-time in Python
(etl_sync.py:206-224 field extraction, 141-158 answers→areas explode,
160-177 priority score extraction, 179-194 KPIs). Here the whole feed
is one DataFrame of nested structs and every extraction is a set-wise
Column expression — one explode, no per-row Python, whole-stage
codegen'd. At 100 TB of landed JSON this is the difference between a
day and minutes.

AREA/KPI code resolution (reference AREA_MAP etl_sync.py:34-63,
fuzzy 2-pass matching etl_sync.py:128-139) is a broadcast join against
a catalog DataFrame with a match-priority rank instead of a Python
dict probe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.functions.scalars import normalize_title


def parse_submissions(raw_json_df: DataFrame, json_col: str = "value") -> DataFrame:
    """S9 — raw JSON strings → typed nested rows (etl_sync.py:206-224).

    Input: one JSON document per row (e.g. from ``spark.read.text`` on
    a landing dir, or a REST extract). Output: typed columns + the
    nested ``answers`` array kept for downstream explodes.
    """
    from epl_cas_etl_2026_spark.schemas import ZENPUT_SUBMISSION_SCHEMA

    parsed = raw_json_df.select(
        F.from_json(F.col(json_col), ZENPUT_SUBMISSION_SCHEMA).alias("s")
    )
    return parsed.select(
        F.col("s.id").cast("string").alias("zenput_submission_id"),
        F.col("s.smetadata.location.id").alias("zenput_location_id"),
        F.col("s.smetadata.created_by.display_name").alias("supervisor"),
        F.to_timestamp(F.col("s.smetadata.date_submitted")).alias(
            "fecha_supervision"
        ),
        F.col("s.smetadata.lat").alias("lat_entrega"),
        F.col("s.smetadata.lon").alias("lon_entrega"),
        F.col("s.answers").alias("answers"),
    )


def formula_answers(submissions: DataFrame) -> DataFrame:
    """P11 — explode answers[], keep field_type == 'formula' entries
    whose title mentions PORCENTAJE (etl_sync.py:144-149)."""
    exploded = submissions.select(
        "zenput_submission_id",
        F.posexplode("answers").alias("answer_pos", "answer"),
    )
    return exploded.filter(
        (F.col("answer.field_type") == "formula")
        & F.upper(F.col("answer.title")).contains("PORCENTAJE")
    ).select(
        "zenput_submission_id",
        "answer_pos",
        F.col("answer.title").alias("title"),
        F.col("answer.value").cast("double").alias("value"),
    )


# F11's two accepted titles, compared after upper(trim(title)).
_SCORE_TITLES = ("PORCENTAJE %", "CALIFICACION PORCENTAJE %")


def calificacion_general(answers: Column) -> Column:
    """F11 — the overall score, computed in the row (etl_sync.py:160-177).

    The reference walks ``answers`` IN ORDER and returns the value of
    the FIRST formula answer whose title matches EITHER accepted name,
    so answer position outranks the title list. Here that is one
    higher-order expression: the first element of
    ``filter(answers, formula ∧ upper(trim(title)) ∈ _SCORE_TITLES)``,
    value cast to double. No explode, window or join. A null value on
    that first match is returned as-is (the reference does not skip
    None here, unlike extract_areas). A submission with no match, an
    empty or a missing ``answers`` yields NULL: ``try_element_at``
    returns NULL past the end, where ``element_at`` raises under ANSI
    mode.
    """
    hits = F.filter(
        answers,
        lambda a: (a["field_type"] == "formula")
        & F.upper(F.trim(a["title"])).isin(*_SCORE_TITLES),
    )
    return F.try_element_at(hits, F.lit(1))["value"].cast("double")


def extract_calificacion_general(submissions: DataFrame) -> DataFrame:
    """F11 as a table: one ``(zenput_submission_id,
    calificacion_general)`` row per id, from :func:`calificacion_general`.
    Copies of one id in a batch are re-deliveries of the same
    submission, so whichever copy survives carries the same score.
    """
    return submissions.select(
        "zenput_submission_id",
        calificacion_general(F.col("answers")).alias("calificacion_general"),
    ).dropDuplicates(["zenput_submission_id"])


def extract_detail_items(
    submissions: DataFrame, catalog: DataFrame
) -> DataFrame:
    """F10 + J9 + UDTF-shape — answers[] → per-area detail rows
    (etl_sync.py:141-158): explode, normalize the title, resolve the
    catalog code (exact match first, then bidirectional containment —
    the reference's fuzzy 2-pass, etl_sync.py:128-139), first-wins
    dedup per (submission, code).

    ``catalog`` needs columns (id, codigo, nombre, numero); the match
    key is the normalized ``nombre``.
    """
    ans = formula_answers(submissions).withColumn(
        "norm_title", normalize_title(F.col("title"))
    )
    # overall-score rows are not area rows; the reference also skips
    # answers with a null value (etl_sync.py:150-152 `value is None:
    # continue`) BEFORE the first-wins dedup, so a null-valued first
    # answer must not suppress a later valid one for the same code.
    ans = ans.filter(
        (F.col("norm_title") != "") & F.col("value").isNotNull()
    )

    cat = catalog.select(
        F.col("id").alias("item_id"),
        F.col("codigo"),
        normalize_title(F.col("nombre")).alias("norm_nombre"),
        F.col("numero"),
    )
    # fuzzy 2-pass as a single ranked broadcast join:
    #   priority 1 = exact normalized match
    #   priority 2 = answer title contains catalog name or vice versa
    joined = ans.join(
        F.broadcast(cat),
        (F.col("norm_title") == F.col("norm_nombre"))
        | F.col("norm_title").contains(F.col("norm_nombre"))
        | F.col("norm_nombre").contains(F.col("norm_title")),
        "inner",
    ).withColumn(
        "match_prio",
        F.when(F.col("norm_title") == F.col("norm_nombre"), 1).otherwise(2),
    )
    # best catalog item per answer: exact beats fuzzy, then catalog order
    w_ans = Window.partitionBy("zenput_submission_id", "answer_pos").orderBy(
        "match_prio", "numero"
    )
    best_per_answer = joined.withColumn(
        "__r1", F.row_number().over(w_ans)
    ).filter(F.col("__r1") == 1)
    # first-wins per (submission, code): the reference keeps the FIRST
    # answer that resolved to a code (etl_sync.py:155-156)
    w_code = Window.partitionBy("zenput_submission_id", "item_id").orderBy(
        "answer_pos"
    )
    return (
        best_per_answer.withColumn("__r2", F.row_number().over(w_code))
        .filter(F.col("__r2") == 1)
        .select(
            "zenput_submission_id",
            "item_id",
            F.col("codigo"),
            F.col("value").alias("porcentaje"),
        )
    )


def parse_submissions_with_quarantine(
    raw_json_df: DataFrame, json_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """S9 with corrupt-record routing: the reference's per-row loop
    would raise (or silently skip) on malformed submissions
    (etl_sync.py:206-224 assumes well-formed dicts); at pipeline scale
    a bad page must neither kill the job nor vanish. PERMISSIVE-style
    split: ``from_json`` yields NULL for unparseable documents, so one
    pass tags each raw line and the two outputs are filter twins of
    the SAME parsed frame (Catalyst collapses this to a single parse —
    no double scan when both sides are consumed in one plan; callers
    that materialize both should persist the tagged frame).

    Returns ``(good, quarantine)``: ``good`` has the
    :func:`parse_submissions` schema; ``quarantine`` carries the raw
    line for replay/repair (the landing-dir analogue of a dead-letter
    queue).
    """
    from epl_cas_etl_2026_spark.schemas import ZENPUT_SUBMISSION_SCHEMA

    tagged = raw_json_df.select(
        F.col(json_col).alias("__raw"),
        F.from_json(F.col(json_col), ZENPUT_SUBMISSION_SCHEMA).alias("s"),
    )
    # a parse failure surfaces as a NULL struct; an all-NULL struct from
    # a syntactically-valid-but-wrong-shape document has a NULL id too,
    # which the reference would also reject (id is the natural key)
    bad = F.col("s").isNull() | F.col("s.id").isNull()
    quarantine = tagged.filter(bad).select(F.col("__raw").alias("raw_json"))
    good = tagged.filter(~bad).select(
        F.col("s.id").cast("string").alias("zenput_submission_id"),
        F.col("s.smetadata.location.id").alias("zenput_location_id"),
        F.col("s.smetadata.created_by.display_name").alias("supervisor"),
        F.to_timestamp(F.col("s.smetadata.date_submitted")).alias(
            "fecha_supervision"
        ),
        F.col("s.smetadata.lat").alias("lat_entrega"),
        F.col("s.smetadata.lon").alias("lon_entrega"),
        F.col("s.answers").alias("answers"),
    )
    return good, quarantine
