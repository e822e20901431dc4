"""Import/dependency-reference extraction from source content, as one JVM plan.

Graft of PGS_Conversion.toDualGraph's phase 1 (PGS_Conversion.java:1068-1085):
each raw record (face) is decomposed into its boundary keys (canonical PEdges);
here each source file is decomposed into the repo names it imports. The match
is one ``regexp_extract_all`` per language, chosen by ``lang``, so the pass
runs inside the executor JVM with no Python worker and no Arrow transfer.

The per-row sha256 invariant (BASELINE.json: content sha256 equality) is
checked in the same pass: ``sha2(content, 256)`` against the stamped column,
and a mismatch fails the job naming the repo.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Python `re`'s str classes spelled for java.util.regex. `(?U)\w` disagrees
# with Python on 3,856 code points (`²` is a word character to Python only,
# U+0301 to Java only) and `(?U)\s` misses U+001C–U+001F; `(?d)` keeps `^`
# from matching after `\r`, U+0085 and U+2028. One gap stays: the 525 code
# points that became letters after Unicode 13 (the JDK 17 tables) are `\w` to
# Python 3.11 and not to Java, so a repo name spelled with one is cut short.
_W = r"[\p{L}\p{N}_]"
_S = r"[\s\x{1c}-\x{1f}]"

# Anchored per-language import patterns. The filler/decoy lines in the
# synthetic corpus (and real code comments) contain the word "import" inside
# strings/comments; anchoring to line start keeps extraction honest.
LANG_PATTERNS = {
    "python": rf"(?dUm)^{_S}*(?:import|from){_S}+(repo_{_W}+)",
    "java": rf"(?dUm)^{_S}*import{_S}+(?:static{_S}+)?(repo_{_W}+)\.",
    "js": rf"(?dU)require\({_S}*['\"](repo_{_W}+)['\"]{_S}*\)",
}


def normalize_ref(ref: Column) -> Column:
    """Fuzzy import→repo key normalization (the `fixBreaks` near-miss snapping
    analog, PGS_Meshing.java:1009-1031): case-fold and strip wrapping space so
    near-miss spellings resolve to the same repo key before the join."""
    return F.lower(F.trim(ref))


def _sha_mismatch() -> Column:
    """True where the content's sha256 is not its stamp; a null stamp counts."""
    return ~F.sha2(F.col("content"), 256).eqNullSafe(F.col("sha256"))


def with_refs(code_files: DataFrame, verify_sha: bool = True) -> DataFrame:
    """code_files → one row per (repo, ref) import reference.

    The lang filter and column pruning come first (cheap predicates first —
    the PGS_CirclePacking.java:289-296 discipline). With ``verify_sha`` a row
    whose content does not hash to its stamp fails the job: silently dropping
    it would shrink the edge table with no signal. (A stamp computed as
    ``sha2(content, 256)`` in the same plan is proved equal by the optimizer,
    which then drops the check.)
    """
    cols = ["repo", "lang", "content"] + (["sha256"] if verify_sha else [])
    base = code_files.filter(F.col("lang").isin(list(LANG_PATTERNS))).select(*cols)
    if verify_sha:
        failure = F.raise_error(
            F.format_string("with_refs: sha256 verification failed for repo %s", "repo")
        )
        base = base.filter(F.when(_sha_mismatch(), failure).otherwise(F.lit(True)))
    found = None
    for lang, pattern in LANG_PATTERNS.items():
        hit = F.col("lang") == lang
        matches = F.regexp_extract_all("content", F.lit(pattern), F.lit(1))
        found = F.when(hit, matches) if found is None else found.when(hit, matches)
    refs = base.select("repo", F.explode(found).alias("ref"))
    return refs.select("repo", normalize_ref(F.col("ref")).alias("ref"))


def sha_violations(code_files: DataFrame) -> int:
    """Count rows whose content does not hash to the stamped sha256, a null
    stamp included (must be 0 — the integrity check of SURVEY §5.6)."""
    return code_files.filter(_sha_mismatch()).count()
