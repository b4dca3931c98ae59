"""Order-insensitive, type-tagged frame comparison for oracle parity.

The single canonicalizer behind BOTH correctness gates — the pytest
replica (tests/test_oracle_parity.py) and the standalone full-registry
sweep (``scripts/verify.py sweep``).  They previously carried near-verbatim
copies that drifted (review finding, round 7); any future normalization
fix lands here once.

Design notes (each clause answers a measured cross-engine hazard):

- **Type tags** keep ``126 != 126.0 != True``: DuckDB windowed SUM
  promotes to HUGEINT which pandas surfaces as float64, and the grading
  driver's value-hash distinguishes the types even though Python ``==``
  does not — so this comparator must too.
- **All self-unequal scalars unify with None**: NULL timestamps arrive
  as pandas ``NaT`` from one engine and ``None`` from the other;
  float64 AND float32 NaN (a FloatType column's NaN is ``np.float32``,
  which is not a Python-float subclass) must canonicalize identically
  or a frame would compare unequal to itself.  ``v != v`` is the one
  test that catches every variant — and, unlike a ``str(v) == 'NaT'``
  probe, it cannot swallow a genuine *string* cell ``'NaT'`` (review
  finding, round 7).
- **-0.0 canonicalizes to 0.0**: ``round(-4e-11, 9)`` is ``-0.0``,
  which compares ``==`` to ``0.0`` but sorts differently under the
  repr key — two genuinely matching frames could misalign row-wise and
  report a false mismatch.
- **Arrays recurse**: numpy ndarrays (array<float> embedding columns)
  are not tuple-comparable ("truth value of an array is ambiguous").
- **Floats round to 9 digits**: beyond both engines' shared noise
  floor for the suite's ROUND(…, 2..6) outputs, below double ulp drift.
"""

from __future__ import annotations

import numpy as np


def canon_value(v):
    """Canonical ``(type_tag, value)`` pair for one scalar (or array)."""
    if v is None:
        return ("n", None)
    if isinstance(v, str):  # before the v != v probe: strings are cheap
        return ("s", v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("a", tuple(canon_value(x) for x in v))
    try:
        if v != v:  # NaN (float64/float32), pd.NaT, np.datetime64('NaT')
            return ("n", None)
    except (TypeError, ValueError):
        pass
    if isinstance(v, (bool, np.bool_)):  # before int: bool subclasses int
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        r = round(float(v), 9)
        return ("f", 0.0 if r == 0 else r)
    if hasattr(v, "isoformat"):
        # DATE deliberately unifies with its midnight TIMESTAMP (both
        # compare on the instant): DuckDB's pandas bridge WIDENS DATE
        # to datetime64 (``fetchdf`` returns midnight Timestamps) while
        # Spark surfaces DateType as datetime.date objects, so the
        # width is an artifact of the transport, not of the query —
        # distinguishing it would false-MISMATCH every date-returning
        # gate.  Same unification as frame_digest's 't' tag (epoch_us
        # of CAST AS TIMESTAMP), so the two comparators agree on this
        # class BY CONSTRUCTION (ADVICE r10: they previously did not —
        # isoformat '2020-01-01' vs '2020-01-01T00:00:00' here while
        # the digest matched).
        iso = v.isoformat()
        if len(iso) == 10:  # a bare date: widen to the midnight instant
            iso += "T00:00:00"
        return ("t", iso)
    return ("o", v)


def normalize_frame(df):
    """(sorted column names, canonical rows sorted by repr) for a pandas
    frame — two frames are value-identical iff these are equal."""
    cols = sorted(df.columns)
    df = df[cols]
    rows = [
        tuple(canon_value(v) for v in tup)
        for tup in df.itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=repr)


#: DuckDB column types (prefix-matched) → the canon_value type tag the
#: column's values would carry.  Any type outside this map (DECIMAL,
#: LIST, STRUCT, BLOB — pandas object columns) makes frame_digest
#: return None: caller must fall back to normalize_frame.
_DIGEST_TAGS = (
    ("BOOLEAN", "b"),
    ("TINYINT", "i"), ("SMALLINT", "i"), ("INTEGER", "i"), ("BIGINT", "i"),
    ("UTINYINT", "i"), ("USMALLINT", "i"), ("UINTEGER", "i"),
    # UBIGINT/HUGEINT deliberately absent: values above int64 cannot
    # width-canonicalize to the BIGINT the 'i' hash uses (and pandas
    # frames from either engine surface them as float64 anyway) —
    # such a column falls back to normalize_frame
    ("FLOAT", "f"), ("DOUBLE", "f"),
    ("VARCHAR", "s"),
    # DATE → 't' is DELIBERATE width-unification, not an oversight:
    # DuckDB's pandas bridge widens DATE to datetime64 (midnight
    # Timestamps) while Spark surfaces datetime.date, so cross-engine
    # the logical type is unrecoverable from the frame.  canon_value's
    # 't' clause unifies identically (bare dates widen to the midnight
    # instant), keeping digest and fallback verdicts aligned.
    ("TIMESTAMP", "t"), ("DATE", "t"),
)


def digest_expr(tag: str, quoted_col: str) -> str:
    """The canonical DuckDB SQL image of one column for digest hashing —
    the single definition behind ``frame_digest`` AND the chunked-oracle
    ladders (scripts/pairs_ladder_sf1.py), which digest oracle chunks
    DuckDB-side and combine additively.  Semantics per tag:

    - ``f``: NaN → NULL, round to 9 with -0.0 → 0.0 (canon_value's
      float clause);
    - ``t``: the µs instant (engine-independent width);
    - ``i``: BIGINT width canonicalization — DuckDB ``hash()`` covers
      the raw bit pattern, so a NEGATIVE value hashes differently as
      int32 vs int64 (Spark datediff → int32, DuckDB date arithmetic →
      int64; caught live by fn_date_surface at sf1, r10).  BIGINT, not
      HUGEINT: DuckDB's HUGEINT hash degenerates at -1
      (hash(-1::HUGEINT) == 0 == hash(0::HUGEINT), probed r10);
    - ``b``/``s``: the value itself.
    """
    q = quoted_col
    if tag == "f":
        return (
            f"CASE WHEN isnan({q}) THEN NULL "
            f"WHEN round({q}, 9) = 0 THEN 0.0 "
            f"ELSE round({q}, 9) END"
        )
    if tag == "t":
        return f"epoch_us(CAST({q} AS TIMESTAMP))"
    if tag == "i":
        return f"CAST({q} AS BIGINT)"
    return q


def frame_digest(df, con=None):
    """Order-insensitive multiset digest of a pandas frame, vectorized
    in DuckDB — the O(1)-memory, no-Python-row-loop equivalent of
    ``normalize_frame`` for scalar-typed frames.

    Two frames with equal digests have equal ``normalize_frame``
    outputs (up to 64-bit-hash multiset collision odds, ~2^-64 per
    comparison) and unequal digests ALWAYS mean unequal frames.  The
    canonicalization mirrors ``canon_value`` clause by clause — NaN
    unifies with NULL, floats round to 9 digits with -0.0 → 0.0,
    DATE and TIMESTAMP both compare on their instant (deliberate
    width-unification; see ``_DIGEST_TAGS`` and canon_value's 't'
    clause, which widens bare dates identically) — and BOTH engines'
    frames are hashed by the same DuckDB build, so no cross-engine
    repr/hash drift exists by construction.

    One documented boundary band (ADVICE r10): the float image here is
    DuckDB ``round(x, 9)`` (scaled-binary nearbyint) while canon_value
    uses Python ``round`` (correctly-rounded, half-even), so a value
    sitting WITHIN ~1 ulp of a 0.5e-9 decimal edge can round to
    different 9-digit images on the two paths.  Both paths stay
    self-consistent (each hashes/sorts BOTH frames with its own
    rounding), so a verdict can only differ between digest and
    fallback when the two engines ALSO disagree in that sub-nanoscale
    band — below every rounding margin the suite's oracles guarantee
    (pinned by test_digest_float_half_edge_band).  Motivation for the
    digest: the Python-side canonical sort cost
    867 s of events_gap_fill's 1016 s sf1 sweep chunk (SCALE.md r9);
    this digest runs the same comparison in seconds.

    Returns ``(sorted_cols, tags, n_rows, hash_sum, hash_xor, h_min,
    h_max)`` or ``None`` when any column's type has no canonical tag
    (arrays/decimals/objects — caller falls back to normalize_frame).
    Equality contract vs normalize_frame is pinned by
    tests/test_compare_digest.py (agreement + perturbation cases).
    """
    import duckdb

    owns = con is None
    if owns:
        con = duckdb.connect()
    try:
        cols = sorted(df.columns)
        view = f"_digest_{id(df)}"
        con.register(view, df[cols])
        try:
            types = {
                name: typ
                for name, typ, *_ in con.execute(f"DESCRIBE {view}").fetchall()
            }
            tags, exprs = [], []
            for c in cols:
                typ = types[f"{c}"].upper()
                # nested/exotic types never tag ("DOUBLE[]" must not
                # prefix-match DOUBLE): arrays, structs, maps, decimals
                if any(m in typ for m in ("[", "STRUCT", "MAP", "DECIMAL",
                                          "BLOB", "UNION", "ENUM")):
                    return None
                tag = next(
                    (t for pfx, t in _DIGEST_TAGS if typ.startswith(pfx)), None
                )
                if tag is None:
                    return None
                tags.append(tag)
                exprs.append(digest_expr(tag, f'"{c}"'))
            n, hsum, hxor, hmin, hmax = con.execute(
                f"SELECT count(*), sum(h::HUGEINT), bit_xor(h), min(h), max(h) "
                f"FROM (SELECT hash({', '.join(exprs)}) AS h FROM {view})"
            ).fetchone()
            return (
                tuple(cols),
                tuple(tags),
                int(n),
                None if hsum is None else int(hsum),
                None if hxor is None else int(hxor),
                None if hmin is None else int(hmin),
                None if hmax is None else int(hmax),
            )
        finally:
            con.unregister(view)
    finally:
        if owns:
            con.close()
