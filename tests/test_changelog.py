"""Golden-output test for the end-to-end changelog pipeline
(SURVEY.md §5.2 item 3): two synthetic snapshot directories with known
added/removed/renamed/retyped files → assert the exact diff tables."""

from __future__ import annotations

import threading

import pytest

from artis_data_ingest_spark.operators.changelog import (
    assess_changes,
    comparable_pairs,
    default_pair_reader,
    file_level_log,
)


@pytest.fixture()
def snapshots(tmp_path):
    old = tmp_path / "snap_old"
    new = tmp_path / "snap_new"
    old.mkdir()
    new.mkdir()
    # unchanged pair (version bump only → same standardized key)
    (old / "filtered_Global_production-Quantity_V202301a.csv").write_text(
        "country,qty\nUSA,1\nNOR,2\n"
    )
    (new / "filtered_Global_production-Quantity_V202401a.csv").write_text(
        "country,qty,method\nUSA,1,capture\nNOR,2,farm\nCHL,3,farm\n"
    )
    # removed in new
    (old / "Legacy_table_V202301a.csv").write_text("a,b\n1,2\n")
    # added in new
    (new / "Brand_new_V202401a.csv").write_text("x\n9\n")
    # format-mismatched pair (csv vs xlsx) — must be excluded from deep diff
    (old / "Mixed_format_V202301a.csv").write_text("m\n1\n")
    (new / "Mixed_format_V202401a.xlsx").write_bytes(b"not-a-real-xlsx")
    return str(old), str(new)


def test_file_level_log_golden(spark, snapshots):
    old_dir, new_dir = snapshots
    log = {r.files_std: r for r in file_level_log(spark, old_dir, new_dir).collect()}
    assert set(log) == {
        "global_production_quantity",
        "legacy_table",
        "brand_new",
        "mixed_format",
    }
    gp = log["global_production_quantity"]
    assert gp.exists_in_old and gp.exists_in_new
    assert gp.size_change_mb == pytest.approx(
        gp.size_new_mb - gp.size_old_mb
    )
    assert log["legacy_table"].exists_in_old and not log["legacy_table"].exists_in_new
    assert log["legacy_table"].size_change_mb is None
    assert not log["brand_new"].exists_in_old and log["brand_new"].exists_in_new


def test_comparable_pairs_excludes_mixed_format(spark, snapshots):
    old_dir, new_dir = snapshots
    log = file_level_log(spark, old_dir, new_dir)
    pairs = [r.files_std for r in comparable_pairs(log).collect()]
    assert pairs == ["global_production_quantity"]


def test_assess_changes_deep_diff(spark, snapshots):
    old_dir, new_dir = snapshots
    _, diffs = assess_changes(spark, old_dir, new_dir)
    rows = diffs.collect()
    assert len(rows) == 1
    d = rows[0]
    assert d.files_std == "global_production_quantity"
    assert d.nrow_old == 2 and d.nrow_new == 3 and d.row_diff == 1
    assert d.added_cols == ["method"] and d.removed_cols == []
    assert d.type_changes == []


def test_assess_changes_xlsx_pair_dispatch(spark, tmp_path):
    # mirrors assess_changes.qmd:127-139 — the reader dispatches per
    # extension: fread for csv, read_xlsx(skip=1) for xlsx
    from artis_data_ingest_spark.sources.excel import write_minimal_xlsx

    old = tmp_path / "old"
    new = tmp_path / "new"
    old.mkdir()
    new.mkdir()
    write_minimal_xlsx(
        str(old / "Species_map_V202301.xlsx"),
        [["banner"], ["code", "name"], [1, "cod"], [2, "shrimp"]],
    )
    write_minimal_xlsx(
        str(new / "Species_map_V202401.xlsx"),
        [["banner"], ["code", "group"], [1, "fish"], [2, "crust"], [3, "fish"]],
    )
    _, diffs = assess_changes(spark, str(old), str(new))
    d = diffs.collect()[0]
    assert d.files_std == "species_map"
    assert d.nrow_old == 2 and d.nrow_new == 3
    assert d.added_cols == ["group"] and d.removed_cols == ["name"]


def test_assess_changes_e2e_fixture_tree(spark):
    # committed 3-pair tree: csv pair + xlsx pair compared, the
    # csv-vs-xlsx mismatched pair excluded (qmd:117-123)
    _, diffs = assess_changes(
        spark,
        "/root/repo/data/snapshots_e2e/old",
        "/root/repo/data/snapshots_e2e/new",
    )
    by_key = {r.files_std: r for r in diffs.collect()}
    assert set(by_key) == {"trade_flows", "species_map"}
    assert by_key["species_map"].removed_cols == ["species_major_group"]
    assert by_key["trade_flows"].added_cols == ["flag"]


_DIFF_DTYPES = [
    ("files_std", "string"),
    ("nrow_old", "bigint"),
    ("nrow_new", "bigint"),
    ("row_diff", "bigint"),
    ("ncol_old", "int"),
    ("ncol_new", "int"),
    ("added_cols", "array<string>"),
    ("removed_cols", "array<string>"),
    ("type_changes", "array<struct<column:string,old_type:string,new_type:string>>"),
]


def _jobs_in(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, #jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _csv_pairs(tmp_path, n):
    old = tmp_path / f"old{n}"
    new = tmp_path / f"new{n}"
    old.mkdir()
    new.mkdir()
    for i in range(n):
        (old / f"Table_{i}_V202301a.csv").write_text("a,b\n" + "1,2\n" * (i + 1))
        (new / f"Table_{i}_V202401a.csv").write_text("a,c\n" + "1,x\n" * (i + 2))
    return old, new


def test_assess_changes_jobs_independent_of_pair_count(spark, tmp_path):
    # the diff is one plan: its Spark jobs must not grow with the pairs
    from artis_data_ingest_spark.sources.files import read_csv_inferred

    jobs = {}
    for n in (1, 3):
        old, new = _csv_pairs(tmp_path, n)
        # pre-built readers keep CSV schema inference out of the count
        built = {
            p.name: read_csv_inferred(spark, str(p))
            for d in (old, new) for p in d.iterdir()
        }

        def run():
            _, diffs = assess_changes(
                spark, str(old), str(new),
                reader=lambda p: built[p.rsplit("/", 1)[-1]],
            )
            return diffs.collect()

        rows, jobs[n] = _jobs_in(spark, f"changelog-jobs-{n}", run)
        assert sorted((r.nrow_old, r.nrow_new) for r in rows) == [
            (i + 1, i + 2) for i in range(n)
        ]
    assert jobs[1] == jobs[3]


def test_assess_changes_duplicate_keys_keep_separate_counts(spark, tmp_path):
    # two old files standardize to one key: one diff row per aligned
    # pair, each with its own old-side count
    old = tmp_path / "old"
    new = tmp_path / "new"
    old.mkdir()
    new.mkdir()
    (old / "filtered_Stock_V202301a.csv").write_text("a\n1\n")
    (old / "Stock_V202302a.csv").write_text("a\n1\n2\n")
    (new / "Stock_V202401a.csv").write_text("a\n1\n2\n3\n")
    _, diffs = assess_changes(spark, str(old), str(new))
    rows = diffs.collect()
    assert [r.files_std for r in rows] == ["stock", "stock"]
    assert sorted((r.nrow_old, r.nrow_new, r.row_diff) for r in rows) == [
        (1, 3, 2), (2, 3, 1),
    ]


def test_assess_changes_zero_pairs_is_lazy_and_typed(spark, tmp_path):
    old = tmp_path / "old"
    new = tmp_path / "new"
    old.mkdir()
    new.mkdir()
    (old / "Gone_V202301a.csv").write_text("a\n1\n")
    (new / "Fresh_V202401a.csv").write_text("a\n1\n")

    def pairs_only():
        log = file_level_log(spark, str(old), str(new))
        return comparable_pairs(log).select("files_std", "old", "new").collect()

    _, listing_jobs = _jobs_in(spark, "zero-pairs-listing", pairs_only)
    (_, diffs), jobs = _jobs_in(
        spark, "zero-pairs-assess", lambda: assess_changes(spark, str(old), str(new))
    )
    assert jobs == listing_jobs  # building the diff itself runs no job
    assert diffs.dtypes == _DIFF_DTYPES
    assert diffs.collect() == []


def test_assess_changes_header_only_side_counts_zero(spark, tmp_path):
    old = tmp_path / "old"
    new = tmp_path / "new"
    old.mkdir()
    new.mkdir()
    (old / "Catch_V202301a.csv").write_text("a,b\n")
    (new / "Catch_V202401a.csv").write_text("a,b\n1,2\n3,4\n")
    _, diffs = assess_changes(spark, str(old), str(new))
    rows = diffs.collect()
    assert len(rows) == 1
    d = rows[0]
    assert d.files_std == "catch"
    assert d.nrow_old == 0 and d.nrow_new == 2 and d.row_diff == 2
    assert diffs.dtypes == _DIFF_DTYPES


def test_assess_changes_xls_pair_dispatch(spark, tmp_path):
    # a legacy binary .xls pair is read like an xlsx pair: banner row
    # skipped, next row the header, per-column types inferred
    from artis_data_ingest_spark.sources.xls import write_minimal_xls

    old = tmp_path / "old"
    new = tmp_path / "new"
    old.mkdir()
    new.mkdir()
    write_minimal_xls(
        str(old / "Species_map_V202301.xls"),
        [["banner"], ["code", "name", "qty"], [1, "cod", 2.5], [2, None, 1.5]],
    )
    write_minimal_xls(
        str(new / "Species_map_V202401.xls"),
        [
            ["banner"], ["code", "name", "qty"],
            [1, "cod", "n/a"], [2, None, "1.5"], [3, "hake", "2"],
        ],
    )
    _, diffs = assess_changes(spark, str(old), str(new))
    rows = diffs.collect()
    assert len(rows) == 1
    d = rows[0]
    assert d.files_std == "species_map"
    assert (d.nrow_old, d.nrow_new, d.row_diff) == (2, 3, 1)
    assert (d.ncol_old, d.ncol_new) == (3, 3)
    assert d.added_cols == [] and d.removed_cols == []
    assert [tuple(t) for t in d.type_changes] == [("qty", "double", "string")]


def test_assess_changes_opens_sides_concurrently(spark, tmp_path):
    # every side of every pair is opened at once: two readers meet at a
    # barrier, which a one-at-a-time loop would never reach
    old, new = _csv_pairs(tmp_path, 2)
    barrier = threading.Barrier(2, timeout=60)

    def meeting(path):
        barrier.wait()
        return default_pair_reader(spark, path)

    lock = threading.Lock()

    def one_at_a_time(path):
        with lock:
            return default_pair_reader(spark, path)

    _, got = assess_changes(spark, str(old), str(new), reader=meeting)
    _, want = assess_changes(spark, str(old), str(new), reader=one_at_a_time)
    assert got.collect() == want.collect()
    assert [r.files_std for r in got.collect()] == ["table_0", "table_1"]


def test_assess_changes_reader_inherits_group_and_tags(spark, tmp_path):
    # the reader's jobs belong to the caller's job group and carry the
    # caller's session tags; a property one reader sets stays its own
    old, new = _csv_pairs(tmp_path, 1)
    sc = spark.sparkContext
    seen = {}
    barrier = threading.Barrier(2, timeout=60)

    def reader(path):
        seen[path] = (sc.getLocalProperty("spark.jobGroup.id"), spark.getTags())
        sc.setLocalProperty("spark.job.description", path)
        barrier.wait()  # both sides have set their description
        seen[path] += (sc.getLocalProperty("spark.job.description"),)
        return default_pair_reader(spark, path)

    sc.setJobGroup("changelog-caller", "caller")
    spark.addTag("changelog-caller-tag")
    try:
        _, diffs = assess_changes(spark, str(old), str(new), reader=reader)
        caller_description = sc.getLocalProperty("spark.job.description")
        caller_tags = spark.getTags()
    finally:
        spark.removeTag("changelog-caller-tag")
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(seen) == 2
    for path, (group, tags, description) in seen.items():
        assert group == "changelog-caller"
        assert tags == caller_tags == {"changelog-caller-tag"}
        assert description == path
    assert caller_description == "caller"
    assert len(diffs.collect()) == 1


def test_assess_changes_reader_error_propagates(spark, tmp_path):
    old, new = _csv_pairs(tmp_path, 2)
    boom = OSError("side unreadable")

    def reader(path):
        if path.endswith("Table_1_V202401a.csv"):
            raise boom
        return default_pair_reader(spark, path)

    with pytest.raises(OSError) as excinfo:
        assess_changes(spark, str(old), str(new), reader=reader)
    assert excinfo.value is boom
