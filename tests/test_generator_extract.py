"""Generator determinism + extraction correctness (SURVEY §5.1, §5.6)."""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from pgs_spark.functions.extract import sha_violations, with_refs
from pgs_spark.sources.generator import generate_code_files, repo_table


def test_generator_deterministic(spark):
    a = generate_code_files(spark, n_repos=20, n_files=100, seed=7)
    b = generate_code_files(spark, n_repos=20, n_files=100, seed=7)
    assert a.count() == 100
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_generator_seed_changes_content(spark):
    a = generate_code_files(spark, n_repos=20, n_files=100, seed=7)
    b = generate_code_files(spark, n_repos=20, n_files=100, seed=8)
    assert a.select("sha256").exceptAll(b.select("sha256")).count() > 0


def test_generator_schema_and_sha(spark):
    cf = generate_code_files(spark, n_repos=10, n_files=50, seed=42)
    assert set(cf.columns) == {"repo", "path", "commit", "lang", "content", "sha256"}
    bad = cf.filter(F.sha2(F.col("content"), 256) != F.col("sha256")).count()
    assert bad == 0
    langs = {r["lang"] for r in cf.select("lang").distinct().collect()}
    assert langs <= {"python", "java", "js"}


def test_extract_known_rows(spark):
    rows = [
        ("r1", "python", "import repo_00001\nx = 1  # import repo_00099 in comment\nfrom repo_00002 import y"),
        ("r2", "java", "package a; // header\nimport repo_00003.pkg.Cls;\nimport static repo_00004.Cls;\nclass C {}"),
        ("r3", "js", "// require('repo_fake') is commented? no — findall sees it\nconst a = require('repo_00005');"),
        ("r4", "go", "import repo_00006"),  # unsupported lang → dropped
    ]
    cf = spark.createDataFrame(rows, "repo string, lang string, content string").withColumn(
        "sha256", F.sha2(F.col("content"), 256)
    )
    refs = {(r["repo"], r["ref"]) for r in with_refs(cf).collect()}
    assert ("r1", "repo_00001") in refs
    assert ("r1", "repo_00002") in refs  # from-import
    assert ("r1", "repo_00099") not in refs  # comment decoy is not line-anchored import
    assert ("r2", "repo_00003") in refs and ("r2", "repo_00004") in refs
    assert ("r3", "repo_00005") in refs
    assert not any(repo == "r4" for repo, _ in refs)


def test_sha_invariant_on_generated_corpus(spark):
    cf = generate_code_files(spark, n_repos=20, n_files=200, seed=42)
    assert sha_violations(cf) == 0


def test_import_skew_is_powerlaw(spark):
    """Zipf targets: the most-imported repo must be a genuine heavy hitter."""
    cf = generate_code_files(spark, n_repos=100, n_files=2000, seed=42).persist()
    refs = with_refs(cf).persist()
    counts = [r["cnt"] for r in refs.groupBy("ref").agg(F.count("*").alias("cnt")).collect()]
    counts.sort(reverse=True)
    mean = sum(counts) / len(counts)
    assert counts[0] > 5 * mean  # hub exists
    refs.unpersist()
    cf.unpersist()


def test_repo_table_ids_stable(spark):
    a = repo_table(spark, 50).collect()
    b = repo_table(spark, 50).collect()
    assert {(r["repo"], r["repo_id"]) for r in a} == {(r["repo"], r["repo_id"]) for r in b}
    assert len({r["repo_id"] for r in a}) == 50


# The Python `re` patterns extraction was first written with; the JVM plan
# must find exactly what `re.findall` finds with them.
PY_PATTERNS = {
    "python": r"(?m)^\s*(?:import|from)\s+(repo_\w+)",
    "java": r"(?m)^\s*import\s+(?:static\s+)?(repo_\w+)\.",
    "js": r"(?m)require\(\s*['\"](repo_\w+)['\"]\s*\)",
}

# Word characters on which Python and Java's (?U) disagree (², ³ and U+0301),
# digits and letters they agree on, whitespace Java's (?U)\s lacks
# (U+001C–U+001F) or has (U+00A0, U+3000, U+0085), and line breaks Java's `^`
# honours without (?d) (a lone \r, U+0085, U+2028).
PARITY_ROWS = [
    ("p1", "python", "import repo_x²\nfrom repo_٣ import a\nimport repo_Éé\nimport repo_模块"),
    ("p2", "python", "import repo_e\u0301x\n\x1cimport repo_fs\nimport\x1frepo_us"),
    ("p3", "python", "\u00a0import repo_nbsp\n\u3000from repo_ideo import b\n\u0085import repo_nel"),
    ("p4", "python", "x = 1\rimport repo_cr\r\nimport repo_crlf\r\nimport\nrepo_nl"),
    ("p5", "python", "y = 2\u0085import repo_after_nel\nz\u2028import repo_after_ls"),
    ("j1", "java", "import repo_j³.a;\nimport static repo_ö٣.B;\nimport repo_e\u0301.C;"),
    ("j2", "java", "\x1dimport repo_gs.a;\nimport\x1estatic\x1erepo_rs.b;\r\nimport repo_r.c;"),
    ("j3", "java", "int a;\rimport repo_cr.x;\u2028import repo_ls.y;\nimport\nrepo_nl.z;"),
    ("s1", "js", "require('repo_s²');\nrequire(\x1c\"repo_fs\"\x1f);\nrequire(\u3000'repo_漢字' )"),
    ("s2", "js", "require('repo_e\u0301');\nrequire(\u0085'repo_nel')\nrequire(\n'repo_nl'\r\n)"),
]


def test_extract_matches_python_re(spark):
    cf = spark.createDataFrame(PARITY_ROWS, "repo string, lang string, content string")
    cf = cf.withColumn("sha256", F.sha2(F.col("content"), 256))
    want = Counter(
        (repo, ref.strip().lower())
        for repo, lang, content in PARITY_ROWS
        for ref in re.findall(PY_PATTERNS[lang], content)
    )
    got = Counter((r["repo"], r["ref"]) for r in with_refs(cf).collect())
    assert got == want


def _stamped(spark, stamp):
    """One good row and one row named `r_bad` carrying `stamp` as its sha256."""
    rows = [("r_good", "python", "import repo_1"), ("r_bad", "python", "import repo_2")]
    cf = spark.createDataFrame(rows, "repo string, lang string, content string")
    bad = F.col("repo") == "r_bad"
    return cf.withColumn("sha256", F.when(bad, stamp).otherwise(F.sha2(F.col("content"), 256)))


@pytest.mark.parametrize("stamp", ["wrong", "null"])
def test_bad_stamp_fails_loudly(spark, stamp):
    value = F.sha2(F.lit("other content"), 256) if stamp == "wrong" else F.lit(None)
    cf = _stamped(spark, value)
    with pytest.raises(Exception, match="sha256 verification failed for repo r_bad"):
        with_refs(cf).count()
    # the --no-verify path extracts without checking
    assert {r["repo"] for r in with_refs(cf, verify_sha=False).collect()} == {"r_good", "r_bad"}


def test_sha_violations_counts_wrong_and_null_stamps(spark):
    wrong = _stamped(spark, F.sha2(F.lit("other content"), 256))
    null = _stamped(spark, F.lit(None)).filter(F.col("repo") == "r_bad")
    assert sha_violations(wrong.unionByName(null)) == 2
