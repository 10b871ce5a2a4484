"""Seeded benchmark inputs and their expected results, both made with DuckDB.

The source-code table has the shape and planted-defect classes of
``data_validator_guard_spark.synth``: one hot repo holding 30% of the rows,
duplicated (repo, path, commit) identities, bad paths (NULL / blank / ``..``
traversal / no extension), bad commits (uppercase / 39 chars) and langs
outside the allowed dimension. It is generated here with DuckDB instead of
Spark so that making a new seed's input needs no JVM, and so that the
expected per-rule totals come from an engine independent of the one under
test.

Inputs are cached under ``<work>/inputs/<workload>-<rows>-<seed>/``; a
``done`` marker written last makes a half-written entry count as absent.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import duckdb

ALLOWED_LANGS = ["python", "java", "scala", "go", "rust", "c", "cpp", "js"]
LANG_EXT = ["py", "java", "scala", "go", "rs", "c", "cc", "js"]
VOCAB = [
    "def", "return", "class", "import", "for", "while", "if", "else",
    "match", "struct", "impl", "fn", "let", "const", "var", "public",
]
# suites.PATH_PATTERN is ^(?!.*\.\.)[A-Za-z0-9_\-./]+\.[A-Za-z0-9]+$ ; its
# lookahead is not RE2-safe, so DuckDB replays it as "no '..'" AND this.
PATH_PATTERN_NO_LOOKAHEAD = r"^[A-Za-z0-9_\-./]+\.[A-Za-z0-9]+$"
COMMIT_PATTERN = r"^[0-9a-f]{40}$"
# suites.LENGTH_EDGES, repeated so the baseline histogram needs no Spark.
LENGTH_EDGES = [0, 64, 128, 256, 512, 1024, 2048, 4096]
# rules whose (n_rows, n_violations) totals and violation-row counts DuckDB
# replays exactly; the drift and cardinality verdicts are checked for
# stability across iterations instead.
CHECKED_RULES = (
    "path_not_blank", "path_pattern", "commit_pattern", "content_not_blank",
    "lang_null_rate", "file_identity_unique", "lang_in_dim",
)
MAX_CACHED = 8
# small, fixed row groups: the cached file depends only on (workload, rows,
# seed), and run.py's split size can still give every core its share
ROW_GROUP_ROWS = 8192
# rows of the drift reference table: the drift rule compares proportions,
# and building more rows of content only lengthens input generation
BASELINE_ROWS = 200_000


@dataclass(frozen=True)
class Defects:
    """Planted defect rates, per mille of rows (dup: every n-th row)."""

    bad_path: int
    bad_commit: int
    bad_lang: int
    dup_every: int
    shift_lang: str | None = None


CLEAN = Defects(bad_path=12, bad_commit=10, bad_lang=9, dup_every=499)
HEAVY = Defects(bad_path=80, bad_commit=60, bad_lang=60, dup_every=49, shift_lang="go")


def _table_sql(n_rows: int, seed: int, d: Defects) -> str:
    def u(tag: str, m: int) -> str:
        return f"CAST(hash('{seed}:{tag}:' || kid) % {m} AS BIGINT)"

    langs = "[" + ", ".join(f"'{x}'" for x in ALLOWED_LANGS) + "]"
    exts = "[" + ", ".join(f"'{x}'" for x in LANG_EXT) + "]"
    vocab = "[" + ", ".join(f"'{x}'" for x in VOCAB) + "]"
    phrase = " || ' ' || ".join(f"{vocab}[1 + {u(f'w{i}', len(VOCAB))}]" for i in range(6))
    shift = (
        f" + CASE WHEN lang_pick = '{d.shift_lang}' THEN 60 ELSE 0 END"
        if d.shift_lang
        else ""
    )
    return f"""
WITH k AS (
  SELECT range AS id,
         CASE WHEN range % {d.dup_every} = 0 AND range > 0 THEN range - 1 ELSE range END AS kid
  FROM range({n_rows})
), p AS (
  SELECT id, kid,
         {langs}[1 + {u('lang', len(ALLOWED_LANGS))}] AS lang_pick,
         {exts}[1 + {u('lang', len(ALLOWED_LANGS))}] AS ext,
         {u('badlang', 1000)} AS bl,
         {u('badpath', 1000)} AS bp,
         {u('badcommit', 1000)} AS bc,
         md5('{seed}:c1:' || kid) || substr(md5('{seed}:c2:' || kid), 1, 8) AS full_hex
  FROM k
)
SELECT
  CASE WHEN {u('hot', 1000)} < 300 THEN 'org0/hot-repo'
       ELSE 'org' || {u('org', 50)} || '/repo' || {u('repo', 200)} END AS repo,
  CASE WHEN bp < {d.bad_path} AND bp % 4 = 0 THEN NULL
       WHEN bp < {d.bad_path} AND bp % 4 = 1 THEN ''
       WHEN bp < {d.bad_path} AND bp % 4 = 2 THEN '../escape/file' || kid
       WHEN bp < {d.bad_path} THEN 'src/noext/file' || kid
       ELSE 'src/dir' || {u('dir', 40)} || '/file' || {u('file', 5000)} || '.' || ext
  END AS path,
  CASE WHEN bc < {d.bad_commit} AND bc % 2 = 0 THEN upper(full_hex)
       WHEN bc < {d.bad_commit} THEN substr(full_hex, 1, 39)
       ELSE full_hex END AS "commit",
  CASE WHEN bl < {d.bad_lang} AND bl % 3 = 0 THEN 'klingon'
       WHEN bl < {d.bad_lang} AND bl % 3 = 1 THEN ''
       WHEN bl < {d.bad_lang} THEN NULL
       ELSE lang_pick END AS lang,
  '// ' || kid || chr(10)
    || repeat({phrase} || chr(10), CAST(2 + {u('len', 40)}{shift} AS INTEGER)) AS content
FROM p
ORDER BY id
"""


def _bucket_sql(value: str) -> str:
    """operators.drift.bucketize over LENGTH_EDGES."""
    e = LENGTH_EDGES
    cases = " ".join(f"WHEN {value} < {e[i + 1]} THEN {i}" for i in range(len(e) - 1))
    return f"CASE WHEN {value} < {e[0]} THEN -1 {cases} ELSE {len(e) - 1} END"


def _is_blank(c: str) -> str:
    # functions.is_blank: NULL or only spaces
    return f"({c} IS NULL OR regexp_full_match({c}, ' *'))"


_LANGS_SQL = ", ".join(f"'{x}'" for x in ALLOWED_LANGS)
# violation condition of each row-level and inline-FK rule of the suite
ROW_RULES_SQL = {
    "path_not_blank": _is_blank("path"),
    "path_pattern": (
        f"(path IS NULL OR contains(path, '..') "
        f"OR NOT regexp_matches(path, '{PATH_PATTERN_NO_LOOKAHEAD}'))"
    ),
    "commit_pattern": f"(\"commit\" IS NULL OR NOT regexp_matches(\"commit\", '{COMMIT_PATTERN}'))",
    "content_not_blank": _is_blank("content"),
    "lang_in_dim": f"(lang IS NULL OR lang NOT IN ({_LANGS_SQL}))",
}


def _expected(con: duckdb.DuckDBPyConnection, src: str) -> dict:
    """Per-rule totals over all partitions, as engine.validate reports them:
    n_rows sums to the row count for every rule; n_violations is the
    violating-row count (the duplicate-group sizes for the unique rule);
    violation_rows is the number of emitted violation rows."""
    n = con.sql(f"SELECT count(*) FROM '{src}'").fetchone()[0]
    sums = ", ".join(f"sum(CASE WHEN {c} THEN 1 ELSE 0 END)" for c in ROW_RULES_SQL.values())
    counts = con.sql(
        f"SELECT {sums}, sum(CASE WHEN {_is_blank('lang')} THEN 1 ELSE 0 END) FROM '{src}'"
    ).fetchone()
    dup_rows, dup_groups = con.sql(
        f"""SELECT coalesce(sum(c), 0), count(*) FROM (
              SELECT count(*) AS c FROM '{src}' GROUP BY repo, path, "commit" HAVING count(*) > 1)"""
    ).fetchone()
    exp = {
        rid: {"n_rows": n, "n_violations": int(c), "violation_rows": int(c)}
        for rid, c in zip(ROW_RULES_SQL, counts[:-1])
    }
    exp["lang_null_rate"] = {"n_rows": n, "n_violations": int(counts[-1]), "violation_rows": 0}
    exp["file_identity_unique"] = {
        "n_rows": n, "n_violations": int(dup_rows), "violation_rows": int(dup_groups)
    }
    return {"rows": int(n), "rules": exp}


def _sha_digest(con: duckdb.DuckDBPyConnection, rows_sql: str) -> dict:
    """Row count and two 48-bit sums over sha2(content, 256) of the rows
    ``rows_sql`` selects: an order-insensitive digest of the content-sha256
    multiset."""
    rows, lo, hi = con.sql(
        f"""SELECT count(*),
                   sum(('0x' || substr(h, 1, 12))::BIGINT)::HUGEINT,
                   sum(('0x' || substr(h, 13, 12))::BIGINT)::HUGEINT
            FROM (SELECT sha256(content) AS h FROM ({rows_sql}))"""
    ).fetchone()
    return {"rows": int(rows), "sha_lo": str(lo), "sha_hi": str(hi)}


def _survivors(con: duckdb.DuckDBPyConnection, src: str) -> dict:
    """Digest of the rows left by cleaning.apply_rulebook with a delete
    rulebook of every identity that violates a row-level or inline-FK rule:
    a left-anti join on (repo, path, commit), where NULL key parts never
    match. Leaves the rulebook in the temp table ``rulebook``."""
    con.sql(
        f"CREATE OR REPLACE TEMP TABLE rulebook AS SELECT DISTINCT repo, path, \"commit\" "
        f"FROM '{src}' WHERE {' OR '.join(ROW_RULES_SQL.values())}"
    )
    return _sha_digest(
        con,
        f"""SELECT s.content FROM '{src}' s ANTI JOIN rulebook r
            ON s.repo = r.repo AND s.path = r.path AND s."commit" = r."commit" """,
    )


def table_digest(parquet_dir: str) -> dict:
    """The same digest over a parquet directory written by Spark."""
    con = duckdb.connect()
    try:
        return _sha_digest(con, f"SELECT content FROM '{os.path.join(parquet_dir, '*.parquet')}'")
    finally:
        con.close()


def prepare(work: str, workload: str, n_rows: int, seed: int, d: Defects, with_cleaning: bool) -> str:
    """Make (or reuse) the cached input directory for (workload, rows, seed):
    ``source.parquet``, ``baseline_hist.parquet`` (drift reference built from
    an unshifted table of at most BASELINE_ROWS rows of another seed),
    ``rulebook.parquet`` (delete actions; only with_cleaning) and
    ``expected.json``."""
    root = os.path.join(work, "inputs")
    out = os.path.join(root, f"{workload}-{n_rows}-{seed}")
    if os.path.exists(os.path.join(out, "done")):
        os.utime(out)
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    src = os.path.join(out, "source.parquet")
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {os.cpu_count() or 1}")
        con.execute(
            f"COPY ({_table_sql(n_rows, seed, d)}) TO '{src}' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE {ROW_GROUP_ROWS})"
        )
        ref = _table_sql(min(n_rows, BASELINE_ROWS), seed + 100_003, Defects(d.bad_path, d.bad_commit, d.bad_lang, d.dup_every))
        con.execute(
            f"""COPY (SELECT lang AS grp, CAST({_bucket_sql('length(content)')} AS INTEGER) AS bucket,
                             CAST(count(*) AS BIGINT) AS n
                      FROM ({ref}) GROUP BY ALL)
                TO '{os.path.join(out, "baseline_hist.parquet")}' (FORMAT PARQUET)"""
        )
        expected = _expected(con, src)
        if with_cleaning:
            expected["survivors"] = _survivors(con, src)
            con.execute(
                f"""COPY (SELECT repo, path, "commit", CAST(NULL AS VARCHAR) AS correct_value,
                                 'delete' AS action FROM rulebook)
                    TO '{os.path.join(out, "rulebook.parquet")}' (FORMAT PARQUET)"""
            )
    finally:
        con.close()
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)
    open(os.path.join(out, "done"), "w").close()
    _evict(root)
    return out


def _evict(root: str) -> None:
    """Keep the MAX_CACHED most recently used inputs."""
    entries = sorted(
        (os.path.join(root, e) for e in os.listdir(root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in entries[MAX_CACHED:]:
        shutil.rmtree(old, ignore_errors=True)
