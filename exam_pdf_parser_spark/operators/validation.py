"""Validation rule set (SURVEY.md §2.6, V-rules) as native Spark
queries over the ``parsed`` table → one ``issues`` DataFrame.

Every rule is a filter/agg producing rows
``(url, level, question_number, rule, message)`` — the reference's
list-of-ValidationIssue (src/validator.py:14-28) re-expressed as a
union of relational queries.  Rules whose reference source needs
exam_info (V1/V2/V9) or the answer key (V23/V24) live where that data
exists: V23/V24 here via the key table, V1/V2/V9 degrade to
parsed-only variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..core.fields import PASSAGE_TYPES, WRITTEN_TYPES

LISTENING = "듣기"

def _issue(df: DataFrame, level: str, rule: str, message) -> DataFrame:
    return df.select(
        "url",
        F.lit(level).alias("level"),
        F.col("number").alias("question_number"),
        F.lit(rule).alias("rule"),
        message.alias("message") if not isinstance(message, str)
        else F.lit(message).alias("message"),
    )


def validate(
    parsed: DataFrame,
    answer_key: DataFrame | None = None,
    documents: DataFrame | None = None,
) -> DataFrame:
    """All rules unioned.

    r10: ~20 rule branches each read ``parsed`` (and three read
    ``answer_key``) — without a pin every branch re-ran the upstream
    parse kernel, so the union cost ~20 parses (31 s at sf0.1; 1.4 s
    for one parse).  Both inputs are lazily localCheckpoint'd here so
    the parse runs ONCE regardless of caller discipline; the
    checkpointed frames are the small parsed/key tables, not the
    corpus.  Callers that already cache pay one extra tiny copy.

    Release: the checkpoint blocks belong to Spark's ContextCleaner,
    not to the caller, and there is no handle to unpersist them.
    Measured with ``getRDDStorageInfo()`` (200 docs, ``local[2]``):
    the first action caches two RDDs (parsed 4.9 MB + key 3.9 MB);
    they stay while the result is alive, so reuse never re-parses;
    after the last Python reference goes they stay until the next
    driver-JVM GC, which unpersists both (one to two forced
    ``System.gc()`` rounds in the probe; otherwise Spark's periodic
    GC, ``spark.cleaner.periodicGC.interval``, 30 min by default).
    A long-lived service calling ``validate()`` repeatedly keeps each
    call's tables until such a GC.
    """
    p = parsed.localCheckpoint(eager=False)
    if answer_key is not None:
        answer_key = answer_key.localCheckpoint(eager=False)
    rules: list[DataFrame] = []

    if documents is not None:
        # V2 document produced no questions (error) —
        # src/validator.py:136-138 (anti join urls vs parsed)
        rules.append(
            documents.select("url").distinct()
            .join(p.select("url").distinct(), "url", "left_anti")
            .select("url", F.lit("error").alias("level"),
                    F.lit(None).cast("int").alias("question_number"),
                    F.lit("V2").alias("rule"),
                    F.lit("no questions parsed").alias("message"))
        )

    # V1 empty/missing exam title (warning) — src/validator.py:131-135
    rules.append(
        p.groupBy("url").agg(F.first("exam_title").alias("t"))
        .filter(F.col("t").isNull() | (F.trim("t") == ""))
        .select("url", F.lit("warning").alias("level"),
                F.lit(None).cast("int").alias("question_number"),
                F.lit("V1").alias("rule"),
                F.lit("exam title missing").alias("message"))
    )

    # V3 missing question_text (error) — src/validator.py:141-148
    rules.append(_issue(
        p.filter(F.trim("question_text") == ""),
        "error", "V3", "question_text is empty"))

    # V4 points range (error) / unusual (warning) — src/validator.py:151-166
    rules.append(_issue(
        p.filter(~F.col("points").between(1, 5)),
        "error", "V4", "points outside 1-5"))
    rules.append(_issue(
        p.filter(F.col("points").between(1, 5)
                 & ~F.col("points").isin(2, 3)),
        "warning", "V4b", "unusual points value"))

    # V5 question_type null (warning) — src/validator.py:169-176
    rules.append(_issue(
        p.filter(F.col("question_type").isNull()),
        "warning", "V5", "question_type missing"))

    # V7 duplicate numbers (error) — src/validator.py:203-213 (A2)
    dups = (
        p.groupBy("url", "number").count().filter("count > 1")
        .select("url", F.lit("error").alias("level"),
                F.col("number").alias("question_number"),
                F.lit("V7").alias("rule"),
                F.concat(F.lit("duplicate question number x"),
                         F.col("count")).alias("message"))
    )
    rules.append(dups)

    # V8 missing numbers in [min,max] (error) — src/validator.py:216-229 (A3)
    missing = (
        p.groupBy("url")
        .agg(F.min("number").alias("lo"), F.max("number").alias("hi"),
             F.collect_set("number").alias("seen"))
        .select("url", F.explode(
            F.array_except(F.sequence("lo", "hi"), "seen")).alias("number"))
        .select("url", F.lit("error").alias("level"),
                F.col("number").alias("question_number"),
                F.lit("V8").alias("rule"),
                F.lit("missing question number").alias("message"))
    )
    rules.append(missing)

    # V10 MCQ choice count ≠ 5 (warning) — src/validator.py:249-257
    rules.append(_issue(
        p.filter((F.col("question_type") != LISTENING)
                 & ~F.size("choices").isin(0, 5)),
        "warning", "V10", "non-listening question without 5 choices"))

    # V11 choice numbering ≠ 1..n (warning) — src/validator.py:260-270
    rules.append(_issue(
        p.filter(
            (F.size("choices") > 0)
            & (F.sort_array(F.transform("choices", lambda c: c["number"]))
               != F.sequence(F.lit(1), F.size("choices")))),
        "warning", "V11", "choice numbers not 1..n"))

    # V12 empty choice text (error) — src/validator.py:272-281
    rules.append(_issue(
        p.filter(F.exists("choices", lambda c: F.trim(c["text"]) == "")),
        "error", "V12", "empty choice text"))

    # V13 non-listening question with no choices (warning) — :282-290;
    # written-response types are exempt (src/validator.py:282 skips
    # _WRITTEN_TYPES)
    rules.append(_issue(
        p.filter((F.col("question_type") != LISTENING)
                 & ~F.col("question_type").isin(*WRITTEN_TYPES)
                 & (F.col("number") > 17) & (F.size("choices") == 0)),
        "warning", "V13", "question has no choices"))

    # V14 passage-required type with no passage (warning) —
    # src/validator.py:40-55 (_PASSAGE_TYPES), :293-303
    rules.append(_issue(
        p.filter(F.col("question_type").isin(*PASSAGE_TYPES)
                 & F.col("passage").isNull()),
        "warning", "V14", "passage-required type missing passage"))

    # V15 listening with a passage (warning) — src/validator.py:306-356
    rules.append(_issue(
        p.filter((F.col("question_type") == LISTENING)
                 & F.col("passage").isNotNull()),
        "warning", "V15", "listening question has a passage"))
    # V15b positions 1-17 must be listening — join vs literal range
    # (J5, broadcast 17 rows; src/validator.py:318,342-356)
    spark = p.sparkSession
    listening_range = spark.range(1, 18).select(
        F.col("id").cast("int").alias("number"))
    rules.append(
        p.join(F.broadcast(listening_range), "number")
        .filter(F.col("question_type") != LISTENING)
        .select("url", F.lit("warning").alias("level"),
                F.col("number").alias("question_number"),
                F.lit("V15b").alias("rule"),
                F.lit("position 1-17 not typed as listening").alias("message"))
    )

    # V16 group_range format (warning) — src/validator.py:58,373-381
    rules.append(_issue(
        p.filter(F.col("group_range").isNotNull()
                 & ~F.regexp_like("group_range", F.lit(r"^\d+[~～]\d+$"))),
        "warning", "V16", "malformed group_range"))

    # V17 group membership gaps (warning) — src/validator.py:391-405 (A12)
    grp = p.filter(
        F.col("group_range").isNotNull()
        & F.regexp_like("group_range", F.lit(r"^\d+[~～]\d+$"))
    ).select(
        "url", "group_range",
        F.regexp_extract("group_range", r"(\d+)[~～](\d+)", 1)
        .cast("int").alias("g_lo"),
        F.regexp_extract("group_range", r"(\d+)[~～](\d+)", 2)
        .cast("int").alias("g_hi"),
    ).distinct()
    members = p.select("url", "number")
    gaps = (
        grp.join(members, "url")
        .filter(F.col("number").between(F.col("g_lo"), F.col("g_hi")))
        .groupBy("url", "group_range", "g_lo", "g_hi")
        .agg(F.collect_set("number").alias("present"))
        .select("url", "group_range", F.explode(
            F.array_except(F.sequence("g_lo", "g_hi"), "present"))
            .alias("number"))
        .select("url", F.lit("warning").alias("level"),
                F.col("number").alias("question_number"),
                F.lit("V17").alias("rule"),
                F.concat(F.lit("group "), F.col("group_range"),
                         F.lit(" missing member")).alias("message"))
    )
    rules.append(gaps)

    # V18 group-first without passage (warning) — :407-416 (W8)
    w18 = Window.partitionBy("url", "group_range").orderBy("number")
    rules.append(_issue(
        p.filter(F.col("group_range").isNotNull())
        .withColumn("rn", F.row_number().over(w18))
        .filter((F.col("rn") == 1) & F.col("passage").isNull()),
        "warning", "V18", "group-first question has no passage"))

    # V19 duplicate question_text, first-wins citation (warning) —
    # src/validator.py:428-445 (W7)
    w19 = (
        Window.partitionBy("url", F.trim("question_text")).orderBy("number")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    rules.append(
        p.filter(F.trim("question_text") != "")
        .withColumn("first_num", F.first("number").over(w19))
        .filter(F.col("number") != F.col("first_num"))
        .select("url", F.lit("warning").alias("level"),
                F.col("number").alias("question_number"),
                F.lit("V19").alias("rule"),
                F.concat(F.lit("question_text duplicates Q"),
                         F.col("first_num")).alias("message"))
    )

    # V6 empty sub_questions entries (warning) — src/validator.py:179-189
    rules.append(_issue(
        p.filter(F.exists("sub_questions", lambda s: F.trim(s) == "")),
        "warning", "V6", "empty sub_question entry"))

    # V6b empty vocabulary note fields (same family)
    rules.append(_issue(
        p.filter(F.exists(
            "vocabulary_notes",
            lambda v: (F.trim(v["word"]) == "") | (F.trim(v["meaning"]) == ""))),
        "warning", "V6b", "empty vocabulary note"))

    # V22 has_image/has_table without description (warning) — :478-498
    rules.append(_issue(
        p.filter((F.col("has_image") | F.col("has_table"))
                 & F.col("image_description").isNull()),
        "warning", "V22", "figure/table without description"))

    # V20 short passage (warning) — src/validator.py:447-456
    rules.append(_issue(
        p.filter(F.col("passage").isNotNull()
                 & (F.length(F.trim("passage")) < 20)),
        "warning", "V20", "passage shorter than 20 chars"))

    # V21 duplicate choice texts within a question (warning) — :458-476
    rules.append(_issue(
        p.filter(F.size("choices")
                 > F.size(F.array_distinct(
                     F.transform("choices", lambda c: F.trim(c["text"]))))),
        "warning", "V21", "duplicate choice texts"))

    if answer_key is not None:
        # V23 in key, missing from parse (error) — :507-519 (J2 anti)
        rules.append(
            answer_key.join(p.select("url", "number"),
                            ["url", "number"], "left_anti")
            .select("url", F.lit("error").alias("level"),
                    F.col("number").alias("question_number"),
                    F.lit("V23").alias("rule"),
                    F.lit("in answer key but not parsed").alias("message"))
        )
        # V9 parsed count ≠ expected count (warning) —
        # src/validator.py:231-239 (expected = answer-key size)
        kc = answer_key.groupBy("url").agg(F.count("*").alias("expected"))
        pc = p.groupBy("url").agg(F.count("*").alias("got"))
        rules.append(
            kc.join(pc, "url", "left_outer")
            .filter(F.coalesce("got", F.lit(0)) != F.col("expected"))
            .select("url", F.lit("warning").alias("level"),
                    F.lit(None).cast("int").alias("question_number"),
                    F.lit("V9").alias("rule"),
                    F.concat(F.lit("parsed "),
                             F.coalesce("got", F.lit(0)),
                             F.lit(" of expected "),
                             F.col("expected")).alias("message"))
        )
        # V24 choice-count mismatch vs key (warning) — :521-535 (J3)
        k = answer_key.select(
            "url", "number", F.size("choices").alias("k_n"))
        pp = p.select("url", "number", F.size("choices").alias("p_n"))
        rules.append(
            k.join(pp, ["url", "number"])
            .filter((F.col("k_n") > 0) & (F.col("k_n") != F.col("p_n")))
            .select("url", F.lit("warning").alias("level"),
                    F.col("number").alias("question_number"),
                    F.lit("V24").alias("rule"),
                    F.concat(F.lit("choice count "), F.col("p_n"),
                             F.lit(" != key "), F.col("k_n")).alias("message"))
        )

    out = rules[0]
    for r in rules[1:]:
        out = out.unionAll(r)
    return out


def validity_rollup(issues: DataFrame, parsed: DataFrame) -> DataFrame:
    """Per-url error/warning counts + is_valid
    (src/validator.py:115-123).

    The url universe is parsed ∪ issues — a document that produced zero
    parsed rows (V2 / corrupt payload) must still appear, as invalid."""
    urls = (
        parsed.select("url").unionAll(issues.select("url")).distinct()
    )
    counts = issues.groupBy("url").agg(
        F.sum(F.when(F.col("level") == "error", 1).otherwise(0))
        .alias("errors"),
        F.sum(F.when(F.col("level") == "warning", 1).otherwise(0))
        .alias("warnings"),
    )
    return (
        urls.join(counts, "url", "left_outer")
        .select(
            "url",
            F.coalesce("errors", F.lit(0)).alias("errors"),
            F.coalesce("warnings", F.lit(0)).alias("warnings"),
        )
        .withColumn("is_valid", F.col("errors") == 0)
    )
