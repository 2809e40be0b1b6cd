"""Deterministic street-name canonicalization (the BANO `normalize`).

Reproduces, byte-for-byte, the 10-stage cascade of
`/root/reference/bano/helpers.py:106-168` (stage list in SURVEY.md C1)
as *vectorized pandas* — whole-column `.str` operations and dict `.map`
lookups, Arrow-batched into Spark via `pandas_udf`. No per-row Python.

The cascade (order is load-bearing):
  1. uppercase; cut at ' ('; fold separators -.'’/: to space; drop ";
     collapse whitespace
  2. accent fold (A-grave etc. -> base letter, OE ligature -> OE)
  3. street-type abbreviation: longest prefix of 1..4 words (tried 4
     down to 1, only when the name has MORE words than the prefix)
     looked up in the 296-entry type table
  4. ordinal rules (' EME ' squeeze, 1ERE/1ER spellout)
  5. digits -> words, then spelled teens contraction
  6. EXPAND_NOMS / EXPAND_TITRES / ABREV_TITRES pair cascades with the
     reference's quirky trailing-match rule: when the string *ends*
     with the key, ALL ' key' occurrences are replaced
  7. stopword blanking (' DE LA ' -> ' ', etc., single pass each)
  8. trailing roman numeral -> digit words (also re-collapses spaces,
     only in that branch — a reference quirk we keep)
  9. whole-string substitution table
 10. truncate to 30 chars
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import dictionaries as D

_TRANS = str.maketrans(D.ACCENT_FOLD)
_MAX_PREFIX = max(len(k.split()) for k in D.ABREV_TYPE_VOIE)


def normalize_series(s: pd.Series) -> pd.Series:
    s = s.fillna("").astype(str).str.upper()
    s = s.str.split(" (", regex=False).str[0]
    for ch in ("-", ".", "'", "’", "/", ":"):
        s = s.str.replace(ch, " ", regex=False)
    s = s.str.replace('"', "", regex=False)
    s = s.str.replace(r"\s+", " ", regex=True).str.strip()
    s = s.str.translate(_TRANS)
    for a, b in D.ACCENT_FOLD_MULTI:
        s = s.str.replace(a, b, regex=False)

    # street-type longest-prefix abbreviation (helpers.py:131-138)
    words = s.str.split(" ")
    nwords = words.str.len()
    done = pd.Series(False, index=s.index)
    for p in range(_MAX_PREFIX, 0, -1):
        cand = (nwords > p) & ~done
        if not cand.any():
            continue
        prefix = words[cand].str[:p].str.join(" ")
        mapped = prefix.map(D.ABREV_TYPE_VOIE)
        hit = mapped.notna()
        if hit.any():
            idx = mapped.index[hit]
            rest = words[idx].str[p:].str.join(" ")
            s.loc[idx] = mapped[hit] + " " + rest
            done.loc[idx] = True

    # ordinals (helpers.py:140-142)
    s = s.str.replace(" EME ", "EME ", regex=False)
    s = s.str.replace(" 1ERE", " PREMIERE", regex=False)
    s = s.str.replace(" 1ER", " PREMIER", regex=False)

    for a, b in D.CHIFFRES:
        s = s.str.replace(a, b, regex=False)

    # pair cascades with trailing-match quirk (helpers.py:148-158)
    for table in (D.EXPAND_NOMS, D.EXPAND_TITRES, D.ABREV_TITRES):
        for r0, r1 in table:
            s = s.str.replace(f" {r0} ", f" {r1} ", regex=False)
            tail = s.str[-len(r0):] == r0
            if tail.any():
                idx = s.index[tail]
                s.loc[idx] = s.loc[idx].str.replace(f" {r0}", f" {r1}", regex=False)

    for c in D.MOT_A_BLANC:
        s = s.str.replace(f" {c} ", " ", regex=False)

    # trailing roman numeral (helpers.py:163-167)
    parts = s.str.split()
    last = parts.str[-1]
    roman = last.map(D.CHIFFRES_ROMAINS)
    hit = roman.notna()
    if hit.any():
        idx = s.index[hit]
        s.loc[idx] = parts[idx].str[:-1].str.join(" ") + " " + roman[idx]
        s.loc[idx] = s.loc[idx].str.strip()

    s = s.where(~s.isin(D.SUBSTITUTION_COMPLETE), s.map(D.SUBSTITUTION_COMPLETE))
    return s.str[:30]


@pandas_udf(StringType())
def normalize_udf(s: pd.Series) -> pd.Series:
    return normalize_series(s)


_TOPO_ACCENTS = {"DERRIERE": "DERRIÈRE", "EGLISE": "ÉGLISE", "ILE": "ÎLE",
                 "ILOT": "ÎLOT", "PRE": "PRÉ"}
_TOPO_SMALL = {"Au": "au", "Aux": "aux", "D": "d'", "De": "de", "Des": "des",
               "Du": "du", "Et": "et", "L": "l'", "La": "la", "Le": "le",
               "Les": "les", "Un": "un", "Une": "une"}
_TOPO_FIRST_AP = {"d": "d'", "D": "D'", "l": "l'", "L": "L'"}


def _format_toponyme_one(v: str) -> str:
    """Scalar reference twin of helpers.py:24-76 — applied once per
    DISTINCT name (street-name vocabulary), never per row."""
    ws = v.replace("'", " ").split(" ")
    ws = [_TOPO_ACCENTS.get(w, w) for w in ws]
    ws = [w.capitalize() for w in ws]
    for i in range(1, len(ws)):
        ws[i] = _TOPO_SMALL.get(ws[i], ws[i])
    if ws and ws[0] in _TOPO_FIRST_AP:
        ws[0] = _TOPO_FIRST_AP[ws[0]]
    out = " ".join(ws).replace("' ", "'")
    t = out.strip()
    if len(t) > 1 and t[-1] == "'":
        out = t[:-1]
    return out


def format_toponyme_series(s: pd.Series) -> pd.Series:
    """Display-casing of a toponym (helpers.py:24-76): accent restore of
    5 known words, capitalize each word, lowercase particles after the
    first word, restore d'/l' apostrophes. Cost is |distinct names|
    (bounded street-name vocabulary), not |rows|."""
    filled = s.fillna("").astype(str)
    vocab = {v: _format_toponyme_one(v) for v in pd.unique(filled)}
    return filled.map(vocab)


def _case_map(col, mapping: dict):
    from pyspark.sql import functions as F

    expr = None
    for k, v in mapping.items():
        expr = F.when(col == k, v) if expr is None else expr.when(col == k, v)
    return expr.otherwise(col)


def format_toponyme_col(c):
    """format_toponyme as a PURE column expression — no Python on the
    query path at all (VERDICT r1 item 9): word split, per-word
    accent/caps/particle CASE maps via a JVM transform lambda, join,
    apostrophe re-glue, trailing-quote trim."""
    from pyspark.sql import Column, functions as F

    col = c if isinstance(c, Column) else F.col(c)
    words = F.split(F.replace(col, F.lit("'"), F.lit(" ")), " ")

    def per_word(w, i):
        cap = F.initcap(_case_map(w, _TOPO_ACCENTS))
        # after capitalize only 'D'/'L' can hit the first-word
        # apostrophe map; particles lowercase from word 2 on
        first = F.when(cap.isin("D", "L"), F.concat(cap, F.lit("'"))) \
            .otherwise(cap)
        return F.when(i == 0, first).otherwise(_case_map(cap, _TOPO_SMALL))

    joined = F.array_join(F.transform(words, per_word), " ")
    out = F.replace(joined, F.lit("' "), F.lit("'"))
    t = F.trim(out)
    return F.when((F.length(t) > 1) & (F.substring(t, -1, 1) == "'"),
                  F.substring(t, F.lit(1), F.length(t) - 1)).otherwise(out)


def append_suffixe_col(name, suffixe, norm_name):
    """C5 as a pure column expression. ``norm_name`` is normalize(name)
    (engine pipelines already carry it); the quirky guard compares its
    length against the RAW suffix length, endswith on raw strings —
    byte-parity with bano/core.py:33-45."""
    from pyspark.sql import functions as F

    n = F.coalesce(name if not isinstance(name, str) else F.col(name), F.lit(""))
    s = F.coalesce(suffixe if not isinstance(suffixe, str) else F.col(suffixe),
                   F.lit(""))
    ln = F.length(norm_name if not isinstance(norm_name, str)
                  else F.col(norm_name))
    ls = F.length(s)
    tail_differs = F.substring(n, F.lit(0) - ls, ls) != s
    do_append = (s != "") & (((ln > ls) & tail_differs) | (ln <= ls))
    return F.when(do_append, F.concat(n, F.lit(" "), s)).otherwise(n)
