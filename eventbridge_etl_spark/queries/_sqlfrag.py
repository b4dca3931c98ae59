"""Shared DuckDB oracle SQL fragments.

The canonical tokenizer appears in ~24 oracles across four query
modules; round-7 session 4 had to edit every copy to align it with the
engine's Unicode semantics (Java full-lower, ASCII-space trim), and a
missed site would only surface as a unicode-fixture sweep divergence.
One constant, imported everywhere, makes the next alignment a one-line
change (review finding, round 7).

Alignment contract (probed, byte-identical inputs — see
scripts/gen_adversarial_fixture.py and the verify skill's unicode trap
list):

- ``SQL_LOWER`` reproduces Spark/Java ``lower()`` via (a) a
  final-sigma pre-guard and (b) the İ→i+U+0307 pre-replace (İ is
  Unicode's only length-changing lowercase special case).  Java
  applies the conditional Unicode Final_Sigma rule (Σ preceded by a
  cased letter and not followed by one lowers to ς) while DuckDB
  always emits σ.  The guard rewrites capital ``Σ`` in final context
  to ``ς`` BEFORE lowering (RE2 has no lookaround, so the following
  char is captured and re-emitted); it must act on Σ, not on σ after
  the fact, because Java leaves a pre-existing lowercase word-final σ
  unchanged.  Probed against the unicode fixture's Greek bucket plus
  CJK-adjacent, standalone, and already-lowercase sigmas
  (scripts/gen_adversarial_fixture.py, round 8).  Since r12 the
  guard also models Java's CASE-IGNORABLE skipping (``ΜΑΣ'Σ``-style
  sequences — see the ``_CI`` note below and
  tests/test_sqlfrag_sigma.py); the former fence around those
  sequences is gone and the unicode fixture now contains them.
- ``trim(…, ' ')`` reproduces Spark ``trim()`` exactly (DuckDB's bare
  ``trim`` strips Unicode Zs such as U+3000).
- The split regex ``\\s+`` is ASCII-only in BOTH engines (Java regex
  and RE2) — no alignment needed.

It also holds oracle SQL that gates in different modules share
(``ROLLUP_RECOMPUTE_ORACLE``).

This module is import-cycle-free on purpose: query modules import each
other lazily to avoid cycles, but every one of them can import these
plain strings at module level (its one import, ``operators.rounding``,
imports only pyspark).
"""

from eventbridge_etl_spark.operators.rounding import half_up_div_sql


#: Java/Spark-aligned lower() over the documents.text column:
#: final-sigma pre-guard, then İ pre-replace, then lower().
#:
#: The sigma guard must run on the CAPITAL Σ in the original text, not
#: on σ after lowering: Java lowercases a pre-existing word-final σ to
#: itself (identity), so a post-guard would wrongly rewrite
#: already-lowercase Greek (…ευσ → …ευς) that Java leaves alone.  It
#: must also run BEFORE the İ replace — the replacement's combining
#: U+0307, though now inside the ``_CI`` class, keeps the original
#: ordering for review parity with the probed r8 recipe.
#:
#: Since r12 the guard models the FULL Final_Sigma context (VERDICT
#: r11 #6): Java skips Case_Ignorable characters when evaluating
#: "preceded by cased / not followed by cased", so ``ΜΑΣ'Σ`` lowers
#: the apostrophe-adjacent sigma to ``ς`` and leaves the first as
#: ``σ``.  ``_CI`` is Unicode Case_Ignorable as RE2 can express it:
#: the property classes Mn|Me|Cf|Lm|Sk plus the Word_Break
#: MidLetter/MidNumLet/Single_Quote codepoints, every one verified
#: against Java's actual lower() in both follow and precede context
#: (probe recorded in tests/test_sqlfrag_sigma.py; comma, space and
#: hyphen verified NON-ignorable).  RE2 has no lookaround, so "not
#: followed by CI* cased" is spelled as a consumed tail
#: ``[CI]*(?:$|[^cased CI])`` — consuming is safe because the tail
#: never contains a cased char, hence never a Σ another match needs.
_CASED = "\\p{Lu}\\p{Ll}\\p{Lt}"
_CI = (
    "\\p{Mn}\\p{Me}\\p{Cf}\\p{Lm}\\p{Sk}"
    "''"  # U+0027 APOSTROPHE (Single_Quote), doubled for the SQL literal
    ".:"  # U+002E (MidNumLet), U+003A (MidLetter)
    # MidLetter — 00B7 middle dot + 0387 ano teleia (visually
    # identical; 0387 NFC-normalizes to 00B7, hence escapes not
    # literals), 055F, 05F4, 2027, FE13, FE55, FF1A
    "\u00b7\u0387\u055f\u05f4\u2027\ufe13\ufe55\uff1a"
    # MidNumLet — 2018/2019 curly quotes, 2024, FE52, FF07, FF0E
    "\u2018\u2019\u2024\ufe52\uff07\uff0e"
)
SQL_LOWER = (
    "lower(replace("
    f"regexp_replace(text, '([{_CASED}][{_CI}]*)Σ([{_CI}]*(?:$|[^{_CASED}{_CI}]))', "
    "'\\1ς\\2', 'g'), "
    "chr(304), 'i' || chr(775)))"
)

#: Java/Spark-aligned upper() over the documents.text column (r12 —
#: closes the "no oracle applies upper() to document text" boundary).
#: Java applies Unicode SpecialCasing EXPANSIONS on upper (ß→SS, the
#: seven Latin f-ligatures ﬀﬁﬂﬃﬄﬅﬆ→FF/FI/FL/FFI/FFL/ST/ST) while
#: DuckDB's simple mapping leaves ligatures alone and maps ß→ẞ; the
#: recipe pre-expands those nine codepoints, then upper()s.  Domain
#: (probed, tests/test_sqlfrag_sigma.py): exact for every swept
#: fixture surface — ASCII, the German/Greek ligature buckets, Greek
#: capitals (ς/σ→Σ agree), Turkish İ/ı, combining marks, CJK/emoji/
#: astral, RTL.  Documented out-of-domain: the rarer SpecialCasing
#: expansions (ŉ→ʼN-class combining splits, Armenian ﬓ-class
#: ligatures, Greek ypogegrammeni ᾼ→ΑΙ) — none appear in any fixture,
#: and a corpus carrying them needs those replaces added here.
SQL_UPPER = (
    "upper("
    "replace(replace(replace(replace(replace(replace(replace(replace("
    "text, 'ß', 'ss'), 'ﬀ', 'ff'), 'ﬁ', 'fi'), 'ﬂ', 'fl'), "
    "'ﬃ', 'ffi'), 'ﬄ', 'ffl'), 'ﬅ', 'st'), 'ﬆ', 'st'))"
)

#: The canonical whitespace tokenizer, duplicates kept — one array
#: element per token, Spark twin is ``F.split(F.trim(F.lower(col)),
#: r"\s+")`` (operators/text.tokens).
SQL_TOKS_RAW = f"regexp_split_to_array(trim({SQL_LOWER}, ' '), '\\s+')"

#: Distinct token SET — Spark twin adds ``F.array_distinct``.
SQL_TOKS_SET = f"list_distinct({SQL_TOKS_RAW})"


def tfidf_weighting_ctes(toks_cte: str = "toks", max_df: int | None = None) -> str:
    """The tf-idf weighting CTE chain (``<toks_cte>`` -> nd -> dfq ->
    idf -> w -> nrm -> unit) shared by the all-pairs cosine oracles
    (analytics_q ``_tfidf_cosine_oracle``) and the composed
    LSH-candidates oracle (llm ``dedup_tfidf_on_candidates``) — ONE
    rendering, so the engine-shared ``_tfidf_unit_weights`` recipe has
    exactly one SQL image and the gates cannot drift on a rounding step
    (the same lesson as this module's tokenizer constants).

    ``toks_cte`` renames the head CTE for callers composing with a
    chain that already defines ``toks`` (the MinHash CTEs); ``max_df``
    renders the df-cap HAVING of the capped variant."""
    cap = f"\n      HAVING COUNT(*) <= {max_df}" if max_df is not None else ""
    return f"""{toks_cte} AS (
      SELECT id, token, COUNT(*) AS tf FROM (
        SELECT doc_id AS id,
               unnest({SQL_TOKS_RAW}) AS token
        FROM documents) GROUP BY id, token
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents
          WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    dfq AS (
      SELECT token, COUNT(*) AS dfn FROM {toks_cte} GROUP BY token{cap}
    ),
    idf AS (
      SELECT token,
             round(ln(CAST(n AS DOUBLE) / CAST(dfn AS DOUBLE)), 6) AS idf
      FROM dfq CROSS JOIN nd
    ),
    w AS (
      SELECT id, t.token,
             round(CAST(tf AS DOUBLE) * idf, 6) AS w
      FROM {toks_cte} t JOIN idf USING (token)
    ),
    nrm AS (
      SELECT id,
             sqrt(CAST(SUM(CAST(round(w * w, 12) AS DECIMAL(38,12)))
                       AS DOUBLE)) AS nrm
      FROM w GROUP BY id
    ),
    unit AS (
      SELECT w.id, token, round(w / nrm.nrm, 9) AS u
      FROM w JOIN nrm ON nrm.id = w.id WHERE nrm.nrm > 0
    )"""


#: The full-recompute oracle of the hourly event rollup
#: (``operators/incremental``): ``streaming_rollup_merge`` (two
#: micro-batch epochs) and ``rollup_incremental_merge`` (state merged
#: with a raw delta) must both end equal to it.
ROLLUP_RECOMPUTE_ORACLE = f"""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value,
           -- integer HALF_UP micro-unit mean, mirroring publish_rollup
           -- (see operators/rounding.py; real half edge at sf0.1)
           CASE WHEN COUNT(*) > 0 AND SUM(CAST(value AS DECIMAL(28,6))) IS NOT NULL THEN
             CAST(CAST({half_up_div_sql(
                 "CAST(SUM(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT)",
                 "COUNT(*) * 100",
             )} AS BIGINT) AS DOUBLE) / 10000.0
           END AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    -- a time-bucketed rollup has no bucket for a NULL event time
    -- (hourly_rollup_state excludes them by contract)
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """
