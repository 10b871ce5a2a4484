"""Rule-engine unit tests on planted-defect fixtures.

The mock table ports the *data* of the reference's only fixture
(`/root/reference/validation/testing/mock_data.py:3-28` +
`execute_test.py:4`): known duplicate ids, suffix variants, and city typos
with known expected violation counts (FIXTURES.md §2).
"""

from __future__ import annotations

import pytest

from data_validator_guard_spark.engine import report, validate
from data_validator_guard_spark.rules import Rule, RuleSuite

MOCK_ROWS = [
    ("123", "Alice", "New York"),
    ("456", "Bob", "London"),
    ("789", "Charlie", "Paris"),
    ("123", "David", "New York"),      # exact dup id
    ("xyz", "Eve", "Londen"),          # typo city
    ("xyz", "Frank", "London"),        # exact dup id
    ("abc", "Grace", "Paris"),
    ("a-b-c", "Heidi", "Pariss"),      # typo city
    ("abc_v", "Ivan", "London"),       # suffix variant of abc
    ("789", "Judy", "Londn"),          # dup id + typo city
    ("jkl", "Ken", "Pari"),            # typo city
]
ALLOWED_CITIES = ["New York", "London", "Paris"]


@pytest.fixture(scope="module")
def mock_df(spark):
    return spark.createDataFrame(MOCK_ROWS, "id string, name string, city string")


def _verdict(verdicts, rule_id):
    rows = [r for r in verdicts.collect() if r.rule_id == rule_id]
    assert len(rows) == 1
    return rows[0]


def test_unique_detects_planted_duplicates(spark, mock_df):
    suite = RuleSuite("mock", [Rule("id_unique", "unique", ("id",))], key_cols=("id", "name"))
    verdicts, violations = validate(mock_df, suite)
    v = _verdict(verdicts, "id_unique")
    # 3 duplicated keys (123, xyz, 789), each with 2 rows = 6 offending rows,
    # matching the reference's duplicated(keep=False) count.
    assert v["pass"] is False
    assert v.n_rows == len(MOCK_ROWS)
    assert v.n_violations == 6
    keys = sorted(r.keys for r in violations.collect())
    assert keys == ["123", "789", "xyz"]


def test_allowed_values_detects_typos(spark, mock_df):
    suite = RuleSuite(
        "mock",
        [Rule("city_allowed", "allowed_values", ("city",), {"values": ALLOWED_CITIES})],
        key_cols=("id",),
    )
    verdicts, violations = validate(mock_df, suite)
    v = _verdict(verdicts, "city_allowed")
    assert v.n_violations == 4  # Londen, Pariss, Londn, Pari
    details = [r.detail for r in violations.collect()]
    assert all("not in allowed set" in d for d in details)


def test_suffix_normalized_unique(spark, mock_df):
    # abc / abc_v collapse under suffix normalization; a-b-c does not (the
    # reference's logical-variant family needs id normalization beyond this
    # engine's normalized-unique; we assert the v-suffix family only, cf.
    # maganamed_validation.py:136-155).
    from data_validator_guard_spark.functions import suffix_normalized

    df = mock_df.withColumn("id_norm", suffix_normalized("id"))
    suite = RuleSuite("mock", [Rule("idn_unique", "unique", ("id_norm",))], key_cols=("id",))
    verdicts, violations = validate(df, suite)
    keys = sorted(r.keys for r in violations.collect())
    assert "abc" in keys  # abc + abc_v
    v = _verdict(verdicts, "idn_unique")
    assert v.n_violations == 8  # 123x2, xyzx2, 789x2, abc+abc_v


def test_foreign_key_and_row_rules_fused(spark, mock_df):
    dim = spark.createDataFrame([(c,) for c in ALLOWED_CITIES + ["Londen"]], "city string")
    suite = RuleSuite(
        "mock",
        [
            Rule("city_fk", "foreign_key", ("city",), {"dim": dim}),
            Rule("id_pattern", "regex_match", ("id",), {"pattern": r"^[a-z0-9]{3}$"}),
            Rule("name_not_blank", "not_blank", ("name",)),
            Rule("min_rows", "min_rows", (), {"n": 5}),
        ],
        key_cols=("id",),
    )
    verdicts, violations = validate(mock_df, suite)
    assert _verdict(verdicts, "city_fk").n_violations == 3  # Pariss, Londn, Pari
    assert _verdict(verdicts, "id_pattern").n_violations == 2  # a-b-c, abc_v
    assert _verdict(verdicts, "name_not_blank").n_violations == 0
    assert _verdict(verdicts, "min_rows")["pass"] is True


def test_group_consistency(spark):
    df = spark.createDataFrame(
        [
            ("p1", "depression"), ("p1", "depression"),
            ("p2", "anxiety"), ("p2", "bipolar"),     # inconsistent group
            ("p3", "ocd"),
        ],
        "pid string, diagnosis string",
    )
    suite = RuleSuite(
        "diag",
        [Rule("diag_stable", "group_consistency", ("diagnosis",), {"group_by": "pid"})],
        key_cols=("pid",),
    )
    verdicts, violations = validate(df, suite)
    v = _verdict(verdicts, "diag_stable")
    assert v["pass"] is False and v.n_violations == 1
    assert violations.collect()[0].keys == "p2"


def test_completeness(spark):
    df = spark.createDataFrame(
        [
            ("p1", "a", "b", "c", "d", "e"),   # 100%
            ("p2", "a", None, "", "d", "e"),   # 60% -> violation at 0.8
            ("p3", "a", "b", "c", "d", None),  # 80% -> pass
        ],
        "pid string, q1 string, q2 string, q3 string, q4 string, q5 string",
    )
    suite = RuleSuite(
        "saq",
        [Rule("q_complete", "completeness", ("q1", "q2", "q3", "q4", "q5"), {"threshold": 0.8})],
        key_cols=("pid",),
    )
    verdicts, violations = validate(df, suite)
    assert _verdict(verdicts, "q_complete").n_violations == 1
    assert violations.collect()[0].keys == "p2"


def test_partitioned_verdicts(spark):
    df = spark.createDataFrame(
        [("a", None), ("a", "x"), ("b", "y"), ("b", "z")], "grp string, v string"
    )
    suite = RuleSuite("p", [Rule("v_not_null", "not_null", ("v",))], partition_by="grp")
    verdicts, _ = validate(df, suite)
    got = {r.partition: (r["pass"], r.n_rows, r.n_violations) for r in verdicts.collect()}
    assert got == {"a": (False, 2, 1), "b": (True, 2, 0)}


def test_report_ordering(spark, mock_df):
    suite = RuleSuite(
        "mock",
        [
            Rule("id_unique", "unique", ("id",)),
            Rule("city_allowed", "allowed_values", ("city",), {"values": ALLOWED_CITIES}),
        ],
        key_cols=("id",),
    )
    verdicts, violations = report(*validate(mock_df, suite))
    rv = [r.rule_id for r in verdicts.collect()]
    assert rv == sorted(rv)


def test_range_tolerance_and_derived_equality(spark):
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame(
        [
            (1, 10, 12, "a", "a"),
            (2, 10, 25, "b", "b"),   # delta 15 > tol 5
            (3, None, 12, "c", "x"), # null value → range violation; c != x
            (4, 10, 10, None, None), # null == null → derived passes
        ],
        "id long, v long, expected long, got string, want string",
    )
    suite = RuleSuite(
        name="t",
        rules=[
            Rule("rt", "range_tolerance", ("v",), {"value": "v", "expected": "expected", "tol": 5.0}),
            Rule("de", "derived_equality", ("got",), {"value": "got", "expected": "want"}),
        ],
        key_cols=("id",),
    )
    verdicts, violations = validate(df, suite)
    v = {r.rule_id: r for r in verdicts.collect()}
    assert v["rt"].n_violations == 2 and not v["rt"]["pass"]
    assert v["de"].n_violations == 1 and not v["de"]["pass"]
    keys = {(r.rule_id, r.keys) for r in violations.collect()}
    assert ("rt", "2") in keys and ("rt", "3") in keys and ("de", "3") in keys


def test_validate_many_and_empty_table_semantics(spark):
    from data_validator_guard_spark.engine import validate, validate_many
    from data_validator_guard_spark.rules import Rule, RuleSuite

    a = spark.createDataFrame([(1, "x"), (2, None)], "id long, v string")
    b = spark.createDataFrame([(1,), (1,)], "k long")
    suites = {
        "a": (a, RuleSuite("a", [Rule("v_nn", "not_null", ("v",))], key_cols=("id",))),
        "b": (b, RuleSuite("b", [Rule("k_uniq", "unique", ("k",))], key_cols=("k",))),
    }
    verdicts, violations = validate_many(suites)
    v = {(r.table, r.rule_id): r.n_violations for r in verdicts.collect()}
    assert v[("a", "v_nn")] == 1 and v[("b", "k_uniq")] == 2
    assert {r.table for r in violations.collect()} == {"a", "b"}

    # documented semantics: partitions with zero rows produce no verdict rows
    # (verdicts exist per observed partition value; an empty table yields an
    # empty verdicts frame, mirroring the reference's "no data -> no report").
    empty = spark.createDataFrame([], "id long, v string")
    ev, _ = validate(empty, suites["a"][1])
    assert ev.count() == 0


def test_fused_drift_totals_matches_fallback(spark):
    """Totals keyed by the drift rule's (group, bucket) must be invisible:
    identical verdicts with and without a drift rule, and for approximate
    (HLL sketch) vs exact cardinality — including a blank-string value (the
    sketch hashes first, so "" counts like approx_count_distinct counts it)
    and a DATE column (any type, not only the sketch's native inputs)."""
    import datetime

    from pyspark.sql import functions as F

    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.operators.drift import histogram
    from data_validator_guard_spark.rules import Rule, RuleSuite

    rows = [
        (
            i,
            "g" + str(i % 3),
            "x" * (10 + (i * 7) % 50),
            None if i % 10 == 0 else "v",
            ("a", "b", "")[i % 3],
            datetime.date(2024, 1, 1 + i % 4),
        )
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "id long, grp string, content string, v string, s string, d date"
    )
    edges = [0.0, 20.0, 40.0, 60.0]
    baseline = histogram(df, "grp", F.length("content"), edges)
    drift = Rule(
        "len_drift",
        "drift",
        ("content",),
        {
            "group_by": "grp",
            "value": "length(content)",
            "edges": edges,
            "baseline": baseline,
            "threshold": 10.0,  # high: no violations either way
        },
    )

    def verdicts(exact: bool, with_drift: bool) -> dict:
        suite = RuleSuite(
            "fuse",
            [
                Rule("v_not_blank", "not_blank", ("v",)),
                Rule("grp_card", "cardinality_range", ("grp",), {"lo": 1, "hi": 10, "exact": exact}),
                # per partition (id % 2): s holds {"a", "b", ""}, d two dates
                Rule("s_card", "cardinality_range", ("s",), {"lo": 3, "hi": 3, "exact": exact}),
                Rule("d_card", "cardinality_range", ("d",), {"lo": 2, "hi": 2, "exact": exact}),
                Rule("null_rate", "null_rate_max", ("v",), {"max_rate": 0.5}),
                *([drift] if with_drift else []),
            ],
            partition_by="id % 2",
            key_cols=("id",),
        )
        v, _ = validate(df, suite)
        return {
            (r.rule_id, r.partition): (r["pass"], r.n_rows, r.n_violations)
            for r in v.collect()
            if r.rule_id != "len_drift"
        }

    exact = verdicts(exact=True, with_drift=False)
    for approx in (False, True):
        for with_drift in (False, True):
            assert verdicts(exact=not approx, with_drift=with_drift) == exact
    assert exact[("s_card", "0")] == exact[("s_card", "1")] == (True, 150, 0)
    assert exact[("d_card", "0")] == exact[("d_card", "1")] == (True, 150, 0)
    assert exact[("v_not_blank", "0")] == (False, 150, 30)
    assert exact[("v_not_blank", "1")] == (True, 150, 0)


def test_validate_caches_released_by_unpersist_intermediates(spark):
    """The frames validate caches — the drift-keyed totals and the
    plan-level fragment union — are released by ONE
    unpersist_intermediates() call once both outputs are sunk."""
    from pyspark.sql import functions as F

    from data_validator_guard_spark.operators import dedup
    from data_validator_guard_spark.operators.drift import histogram

    df = spark.createDataFrame(
        [(i % 50, "g" + str(i % 3), "x" * (i % 40)) for i in range(200)],
        "id long, grp string, content string",
    )
    edges = [0.0, 10.0, 20.0]
    suite = RuleSuite(
        "cache",
        [
            Rule("id_unique", "unique", ("id",)),
            Rule(
                "len_drift",
                "drift",
                ("content",),
                {
                    "group_by": "grp",
                    "value": "length(content)",
                    "edges": edges,
                    "baseline": histogram(df, "grp", F.length("content"), edges),
                },
            ),
        ],
        key_cols=("id",),
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    dedup.unpersist_intermediates()
    before = persistent().size()
    verdicts, violations = validate(df, suite)
    verdicts.collect()
    violations.count()
    assert persistent().size() == before + 2
    assert dedup.unpersist_intermediates() == 2
    assert persistent().size() == before


def test_inline_fk_null_dim_rows_still_counts_violations(spark):
    """A NULL row in an inline dim must not poison the isin into three-valued
    logic (c IN (..., NULL) is NULL for non-members → every violation
    silently dropped). NULL dim values are filtered out after collect —
    they can never match the equi-join semantics anyway."""
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame(
        [(1, "en"), (2, "xx"), (3, None)], "id bigint, lang string"
    )
    dim = spark.createDataFrame([("en",), (None,)], "lang string")
    suite = RuleSuite(
        "p",
        [Rule("fk", "foreign_key", ("lang",), {"dim": dim, "inline": True})],
        key_cols=("id",),
    )
    verdicts, violations = validate(df, suite)
    v = verdicts.collect()[0]
    assert v.n_violations == 2 and v["pass"] is False
    assert violations.count() == 2


def test_inline_fk_large_dim_fails_fast(spark):
    """Inline dims are small by contract — a miswired large dim must raise
    instead of collecting onto the driver."""
    import pytest as _pytest

    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame([(1, "a")], "id bigint, lang string")
    dim = spark.createDataFrame([(f"v{i}",) for i in range(20)], "lang string")
    suite = RuleSuite(
        "p",
        [
            Rule(
                "fk",
                "foreign_key",
                ("lang",),
                {"dim": dim, "inline": True, "max_inline_values": 5},
            )
        ],
        key_cols=("id",),
    )
    with _pytest.raises(ValueError, match="more than 5 distinct values"):
        validate(df, suite)


def test_is_blank_trailing_newline_is_not_blank(spark):
    """`$` in Java regex matches before a final line terminator; the engine
    must match trim-equality semantics (space-only = blank), so "\\n" and
    " \\r\\n" are NOT blank — exactly what every DuckDB oracle computes."""
    from data_validator_guard_spark.functions import is_blank

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\n"), (4, " \r\n"), (5, "x"), (6, None)],
        "id bigint, v string",
    )
    got = {r.id: r.b for r in df.select("id", is_blank("v").alias("b")).collect()}
    assert got == {1: True, 2: True, 3: False, 4: False, 5: False, 6: True}


def test_conditional_rule_where_guard(spark):
    """params['where'] restricts a row rule to matching rows; guard-false and
    guard-NULL rows are never violations, n_rows stays the total."""
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame(
        [
            (1, "active", None),      # guarded + violating
            (2, "active", "e@x.io"),  # guarded + ok
            (3, "inactive", None),    # guard false -> not a violation
            (4, None, None),          # guard NULL -> not a violation
        ],
        "id bigint, status string, email string",
    )
    suite = RuleSuite(
        "p",
        [Rule("active_email", "not_null", ("email",), {"where": "status = 'active'"})],
        key_cols=("id",),
    )
    verdicts, violations = validate(df, suite)
    v = verdicts.collect()[0]
    assert (v.n_rows, v.n_violations, v["pass"]) == (4, 1, False)
    assert [r.keys for r in violations.collect()] == ["1"]


def test_join_consistency_rule(spark):
    """Rule 13: joined-table agreement. Mismatch and no-match both violate
    (require_match default); require_match=False skips unmatched rows."""
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame(
        [(1, "s1", "en"), (2, "s1", "de"), (3, "s9", "en")],
        "id bigint, code string, lang string",
    )
    dim = spark.createDataFrame([("s1", "en")], "code string, want string")

    def mk(require_match):
        return RuleSuite(
            "p",
            [
                Rule(
                    "agree",
                    "join_consistency",
                    ("lang",),
                    {
                        "other": dim,
                        "on": ["code"],
                        "expr": "lang = want",
                        "require_match": require_match,
                    },
                )
            ],
            key_cols=("id",),
        )

    v, x = validate(df, mk(True))
    r = v.collect()[0]
    assert (r.n_violations, r["pass"]) == (2, False)  # id 2 mismatch, id 3 no match
    details = {row.keys: row.detail for row in x.collect()}
    assert "no match" in details["3"] and "violated" in details["2"]

    v2, _ = validate(df, mk(False))
    assert v2.collect()[0].n_violations == 1  # unmatched row 3 skipped


def test_join_consistency_duplicate_dim_keys_fail_loudly(spark):
    """Round-2 advice: a dim that is NOT unique on the join keys would fan
    matched rows out (n_violations > n_rows). The woven assert must fail the
    job instead of silently multiplying verdicts."""
    import pytest as _pytest

    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame([(1, "s1", "en")], "id bigint, code string, lang string")
    dup_dim = spark.createDataFrame(
        [("s1", "en"), ("s1", "de")], "code string, want string"
    )
    suite = RuleSuite(
        "p",
        [
            Rule(
                "agree",
                "join_consistency",
                ("lang",),
                {"other": dup_dim, "on": ["code"], "expr": "lang = want"},
            )
        ],
        key_cols=("id",),
    )
    _, violations = validate(df, suite)
    with _pytest.raises(Exception, match="not unique on join keys"):
        violations.collect()


def test_join_consistency_ambiguous_column_rejected(spark):
    """A dim column that shadows a left column AND is referenced by the expr
    is ambiguous — rejected at plan-build time with an actionable message."""
    import pytest as _pytest

    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame([(1, "s1", "en")], "id bigint, code string, lang string")
    dim = spark.createDataFrame([("s1", "en")], "code string, lang string")
    suite = RuleSuite(
        "p",
        [
            Rule(
                "agree",
                "join_consistency",
                ("lang",),
                {"other": dim, "on": ["code"], "expr": "lang = lang"},
            )
        ],
        key_cols=("id",),
    )
    with _pytest.raises(ValueError, match="rename them on the dim"):
        validate(df, suite)


def test_rule_param_validation_fails_at_definition_time(spark):
    import pytest as _pytest

    from data_validator_guard_spark.rules import Rule

    with _pytest.raises(ValueError, match="missing required params: \\['pattern'\\]"):
        Rule("r", "regex_match", ("a",))
    with _pytest.raises(ValueError, match="requires at least one column"):
        Rule("r", "unique", ())
    with _pytest.raises(ValueError, match="missing required params"):
        Rule("r", "join_consistency", ("a",), {"other": None})
    # min_max legitimately allows one-sided bounds
    Rule("ok", "min_max", ("a",), {"lo": 0})


def test_depends_on_gated_execution(spark):
    """Per-partition skip: a rule whose dependency failed reports pass=NULL /
    n_violations=NULL and emits no violation rows there; chains propagate via
    the transitive closure (A fails -> B skipped -> C skipped too)."""
    df = spark.createDataFrame(
        [
            # partition p1: gate fails (x=0 present) -> b and c skipped
            (1, "p1", 0, None),
            (2, "p1", 1, "ok"),
            # partition p2: gate passes, b FAILS (null v) -> c skipped via b
            (3, "p2", 1, None),
            (4, "p2", 1, "ok"),
            # partition p3: everything passes -> c evaluated (and fails on 'BAD')
            (5, "p3", 1, "BAD"),
        ],
        "id long, part string, x int, v string",
    )
    suite = RuleSuite(
        name="gated",
        rules=[
            Rule("gate", "cross_column", (), {"expr": "x > 0"}),
            Rule("b_not_null", "not_null", ("v",), {"depends_on": ("gate",)}),
            Rule(
                "c_lower",
                "regex_match",
                ("v",),
                {"pattern": "^[a-z]+$", "depends_on": ("b_not_null",)},
            ),
        ],
        partition_by="part",
        key_cols=("id",),
    )
    verdicts, violations = validate(df, suite)
    v = {(r.rule_id, r.partition): r for r in verdicts.collect()}
    assert v[("gate", "p1")]["pass"] is False
    assert v[("b_not_null", "p1")]["pass"] is None
    assert v[("b_not_null", "p1")].n_violations is None
    assert v[("c_lower", "p1")]["pass"] is None  # closure: gate in c's closure
    assert v[("gate", "p2")]["pass"] is True
    assert v[("b_not_null", "p2")]["pass"] is False
    assert v[("c_lower", "p2")]["pass"] is None  # b failed -> c skipped
    assert v[("gate", "p3")]["pass"] is True
    assert v[("b_not_null", "p3")]["pass"] is True
    assert v[("c_lower", "p3")]["pass"] is False  # evaluated, 'BAD' violates
    # n_rows untouched by skipping
    assert v[("b_not_null", "p1")].n_rows == 2
    # violations for skipped (rule, partition) pairs are suppressed
    viol = [(r.rule_id, r.partition) for r in violations.collect()]
    assert ("gate", "p1") in viol
    assert ("b_not_null", "p2") in viol
    assert ("c_lower", "p3") in viol
    assert ("b_not_null", "p1") not in viol
    assert ("c_lower", "p1") not in viol
    assert ("c_lower", "p2") not in viol


def test_depends_on_validation_at_definition_time():
    with pytest.raises(ValueError, match="unknown rule"):
        RuleSuite(
            name="bad",
            rules=[Rule("a", "cross_column", (), {"expr": "1=1", "depends_on": ("nope",)})],
        )
    with pytest.raises(ValueError, match="depends_on itself"):
        RuleSuite(
            name="selfdep",
            rules=[Rule("a", "cross_column", (), {"expr": "1=1", "depends_on": ("a",)})],
        )
    with pytest.raises(ValueError, match="cycle"):
        RuleSuite(
            name="cyc",
            rules=[
                Rule("a", "cross_column", (), {"expr": "1=1", "depends_on": ("b",)}),
                Rule("b", "cross_column", (), {"expr": "1=1", "depends_on": ("a",)}),
            ],
        )


def test_join_consistency_clash_in_string_literal_is_not_a_reference(spark):
    """Round-3 advice: a dim column name appearing only inside a string
    literal (or comment) of params['expr'] is not a reference — the suite
    must validate, with the unreferenced clash column dropped from the dim
    (left columns win). A real reference must still be rejected."""
    import pytest as _pytest

    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    # `status` exists on BOTH sides (a clash); the expr mentions it ONLY
    # inside a string literal and a comment — previously the bare-identifier
    # tokenizer saw it there and raised a spurious definition-time error.
    df = spark.createDataFrame(
        [(1, "s1", "en", "status", "ok")],
        "id bigint, code string, lang string, category string, status string",
    )
    dim = spark.createDataFrame(
        [("s1", "en", "x")], "code string, want string, status string"
    )

    def mk(expr):
        return RuleSuite(
            "p",
            [
                Rule(
                    "agree",
                    "join_consistency",
                    ("lang",),
                    {"other": dim, "on": ["code"], "expr": expr},
                )
            ],
            key_cols=("id",),
        )

    _, violations = validate(
        df, mk("lang = want AND category = 'status' -- status guard")
    )
    assert violations.count() == 0

    # a genuine (code-part) reference to the clash column must still fail
    with _pytest.raises(ValueError, match="exist in BOTH"):
        validate(df, mk("lang = want AND status = 'ok'"))


def test_violation_sampling_bounds_emission_not_counts(spark):
    """validate(violation_sample_ppm=...): verdict counts must be EXACTLY
    the unsampled counts (they derive from counters, not the emitted frame);
    the emitted rows must be a deterministic strict subset, full at ppm=10^6
    and empty at ppm=0; invalid ppm rejected at call time."""
    import pytest as _pytest

    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame(
        [(i, "zz" if i % 3 == 0 else "en") for i in range(300)],
        "id bigint, lang string",
    )
    dim = spark.createDataFrame([("en",), ("de",)], "lang string")

    def mk():
        return RuleSuite(
            "p",
            [Rule("lang_fk", "foreign_key", ("lang",), {"dim": dim})],
            key_cols=("id",),
        )

    v_full, x_full = validate(df, mk())
    full_rows = {(r.rule_id, r.keys) for r in x_full.collect()}
    full_counts = {(r.rule_id, r.partition): r.n_violations for r in v_full.collect()}

    v_s, x_s = validate(df, mk(), violation_sample_ppm=500_000)
    sampled = {(r.rule_id, r.keys) for r in x_s.collect()}
    assert sampled < full_rows  # strict subset (100 violations, ~50% kept)
    assert 0 < len(sampled) < len(full_rows)
    # verdict counts are the EXACT unsampled counts
    assert {
        (r.rule_id, r.partition): r.n_violations for r in v_s.collect()
    } == full_counts

    _, x_all = validate(df, mk(), violation_sample_ppm=1_000_000)
    assert {(r.rule_id, r.keys) for r in x_all.collect()} == full_rows
    _, x_none = validate(df, mk(), violation_sample_ppm=0)
    assert x_none.count() == 0

    with _pytest.raises(ValueError, match="violation_sample_ppm"):
        validate(df, mk(), violation_sample_ppm=2_000_000)[1].count()


def test_group_consistency_count_nulls_semantics(spark):
    """Round-4 verdict #5: default ignores NULLs ({X, NULL, NULL} passes);
    count_nulls=True treats NULL as one extra distinct value (reference
    parity with x == x.iloc[0] NaN behavior); an all-NULL group passes
    under BOTH settings (nothing to disagree with)."""
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    rows = [
        ("g1", "X"), ("g1", None), ("g1", None),   # consistent + NULLs
        ("g2", "A"), ("g2", "B"),                   # genuinely inconsistent
        ("g3", None), ("g3", None),                 # all NULL
        ("g4", "Y"), ("g4", "Y"),                   # clean
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    suite = RuleSuite(
        name="gc",
        rules=[
            Rule("gc_default", "group_consistency", ("v",), {"group_by": "g"}),
            Rule("gc_nulls", "group_consistency", ("v",), {"group_by": "g", "count_nulls": True}),
        ],
        key_cols=("g",),
    )
    verdicts, violations = validate(df, suite)
    nv = {r.rule_id: r.n_violations for r in verdicts.collect()}
    assert nv == {"gc_default": 1, "gc_nulls": 2}
    flagged = {(r.rule_id, r.keys) for r in violations.collect()}
    assert flagged == {("gc_default", "g2"), ("gc_nulls", "g1"), ("gc_nulls", "g2")}
