"""Text normalization functions — all pure Column expressions.

The NFKD->ASCII fold (reference: common.py:135,212
``unicodedata.normalize('NFKD', s).encode('ascii','ignore')``) has no
Spark builtin, but ICU4J ships in Spark's own classpath (its collation
support uses it): ``reflect`` calls the static
``com.ibm.icu.text.Normalizer.decompose(s, compat=true)`` (= NFKD) and a
``[^\\x00-\\x7F]`` delete is ``encode('ascii','ignore')``.  The fold runs
inside the JVM projection — no Python worker, no Arrow round trip.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Code points that ICU4J 77 (Unicode 16) folds to ASCII but Python 3.11's
# ``unicodedata`` (Unicode 14) treats as unassigned and drops: the
# "outlined" Latin letters and digits of Symbols for Legacy Computing
# Supplement (ICU gives A-Z, 0-9).  Deleted before the ICU call so the
# fold equals the reference's; every other code point already agrees
# (pinned exhaustively by tests/test_cleaning.py::test_nfkd_ascii_exhaustive).
ICU_ONLY_ASCII_FOLDS = (0x1CCD6, 0x1CCF9)


def _icu_nfkd_ascii(c: Column) -> Column:
    """ICU NFKD then drop non-ASCII, with no reference alignment; the
    input must be non-NULL (``decompose`` rejects null)."""
    nfkd = F.reflect(
        F.lit("com.ibm.icu.text.Normalizer"), F.lit("decompose"), c, F.lit(True)
    )
    return F.regexp_replace(nfkd, "[^\\x00-\\x7F]", "")


def nfkd_ascii(col: Column | str) -> Column:
    """NFKD-normalize then drop non-ASCII (emoji, accents).

    Reference semantics: common.py:135 (description), :212 (status_notes).
    A JVM-only expression (ICU4J via ``reflect``, skipped for all-ASCII
    strings); NULL passes through.
    ``reflect`` is nondeterministic to Catalyst: a projection holding
    this fold stays out of whole-stage codegen, is never collapsed into
    a projection that uses its output twice, and no filter is pushed
    below it; Spark also rejects it inside an aggregate function
    (fold in a ``select`` first, then aggregate).
    """
    c = F.col(col) if isinstance(col, str) else col
    lo, hi = ICU_ONLY_ASCII_FOLDS
    aligned = F.regexp_replace(c, f"[\\x{{{lo:X}}}-\\x{{{hi:X}}}]", "")
    # An all-ASCII string is its own fold (NFKD leaves ASCII unchanged),
    # so only rows with a non-ASCII character pay for the ICU call.
    return F.when(~c.rlike("[^\\x00-\\x7F]"), c).when(
        c.isNotNull(), _icu_nfkd_ascii(aligned)
    )


def strip_edge_chars(col: Column | str, chars: str = "<>'") -> Column:
    """Python ``str.strip("<>'")`` equivalent: remove any run of the given
    characters from both ends (common.py:134,211)."""
    c = F.col(col) if isinstance(col, str) else col
    cls = "[" + "".join("\\" + ch for ch in chars) + "]+"
    return F.regexp_replace(c, f"^{cls}|{cls}$", "")


def ago_sanitize(col: Column | str) -> Column:
    """AGO string sanitizer (SURVEY P13; sync-db2-ago.py:135-152):
    ASCII-fold then delete ``' " < >`` entirely.  NULL passthrough."""
    return F.regexp_replace(nfkd_ascii(col), "['\"<>]", "")
