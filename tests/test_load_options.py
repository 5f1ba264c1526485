"""Reject-or-run sweep over the LOAD statement option surface.

CarbonSqlParser.scala:779-834 defines two LOAD forms with two option
spellings: the legacy ``LOAD DATA FACT FROM '...' INTO CUBE t
PARTITIONDATA(KEYWORD 'value', ...)`` (partitionOptions — exactly seven
keywords) and ``LOAD DATA INPATH '...' INTO TABLE t
OPTIONS('key'='value', ...)`` (loadOptions). This sweep enumerates every
documented option and pins an OBSERVABLE behavior for each — a load
option that parses but silently does nothing is data corruption, so
anything outside the supported set must raise, and malformed pairs must
raise rather than drop.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from carbondata_spark.query_defs._tmpdirs import mkdtemp


@pytest.fixture()
def cs(spark):
    from carbondata_spark.sql import CarbonSession
    from carbondata_spark.store import CarbonStore

    return CarbonSession(spark, CarbonStore(spark, mkdtemp(prefix="loadopts_")))


def _write(lines: list[str]) -> str:
    d = mkdtemp(prefix="loadopts_csv_")
    p = os.path.join(d, "data.csv")
    with open(p, "w") as f:
        f.write("\n".join(lines) + "\n")
    return p


def _mk(cs, name: str, cols: str = "id int, city string, amt double"):
    cs.sql(f"CREATE TABLE {name} ({cols}) STORED BY 'org.apache.carbondata.format'")


def _rows(cs, name: str):
    return {tuple(r) for r in cs.sql(f"select * from {name}").collect()}


# --- the seven partitionOptions keywords, keyword spelling ---------------


def test_delimiter(cs):
    path = _write(["id|city|amt", "1|x|2.5", "2|y|3.5"])
    _mk(cs, "t_delim")
    cs.sql(f"LOAD DATA FACT FROM '{path}' INTO CUBE t_delim PARTITIONDATA(DELIMITER '|')")
    assert _rows(cs, "t_delim") == {(1, "x", 2.5), (2, "y", 3.5)}


def test_quotechar(cs):
    # the delimiter inside a quoted field must survive
    path = _write(["id,city,amt", "1,~a,b~,2.5"])
    _mk(cs, "t_quote")
    cs.sql(f"LOAD DATA FACT FROM '{path}' INTO CUBE t_quote PARTITIONDATA(QUOTECHAR '~')")
    assert _rows(cs, "t_quote") == {(1, "a,b", 2.5)}


def test_escapechar(cs):
    # an escaped quote inside a quoted field stays literal
    path = _write(['id,city,amt', '1,"a\\"b",2.5'])
    _mk(cs, "t_esc")
    cs.sql(f"LOAD DATA FACT FROM '{path}' INTO CUBE t_esc PARTITIONDATA(ESCAPECHAR '\\')")
    assert _rows(cs, "t_esc") == {(1, 'a"b', 2.5)}


def test_fileheader_permuted_order(cs):
    # FILEHEADER names the CSV's physical order; it may permute the table
    # declaration order (AllDataTypesTestCaseAggregate.scala:50) — values
    # must land by NAME, not position
    path = _write(["x,2.5,1", "y,3.5,2"])
    _mk(cs, "t_fh")
    cs.sql(
        f"LOAD DATA FACT FROM '{path}' INTO CUBE t_fh"
        " PARTITIONDATA(FILEHEADER 'city,amt,id')"
    )
    assert _rows(cs, "t_fh") == {(1, "x", 2.5), (2, "y", 3.5)}


def test_fileheader_missing_table_column_is_null(cs):
    path = _write(["1,x", "2,y"])
    _mk(cs, "t_fh2")
    cs.sql(
        f"LOAD DATA FACT FROM '{path}' INTO CUBE t_fh2"
        " PARTITIONDATA(FILEHEADER 'id,city')"
    )
    assert _rows(cs, "t_fh2") == {(1, "x", None), (2, "y", None)}


def test_multiline(cs):
    # a quoted newline inside a field
    path = _write(['id,city,amt', '1,"a', 'b",2.5'])
    _mk(cs, "t_ml")
    cs.sql(
        f"LOAD DATA FACT FROM '{path}' INTO CUBE t_ml"
        " PARTITIONDATA(MULTILINE 'true')"
    )
    assert _rows(cs, "t_ml") == {(1, "a\nb", 2.5)}


def test_complex_delimiters(cs):
    # '$' between array elements, ':' between struct fields
    # (CarbonSqlParser.scala:95-96, complexdata.csv conventions)
    path = _write(["id,arr,st", "1,2$3$4,x:9"])
    cs.store.create_table(
        "t_cx",
        T.StructType(
            [
                T.StructField("id", T.IntegerType()),
                T.StructField("arr", T.ArrayType(T.IntegerType())),
                T.StructField(
                    "st",
                    T.StructType(
                        [
                            T.StructField("name", T.StringType()),
                            T.StructField("n", T.IntegerType()),
                        ]
                    ),
                ),
            ]
        ),
    )
    cs.sql(
        f"LOAD DATA FACT FROM '{path}' INTO CUBE t_cx PARTITIONDATA("
        "COMPLEX_DELIMITER_LEVEL_1 '$', COMPLEX_DELIMITER_LEVEL_2 ':')"
    )
    [r] = cs.sql("select * from t_cx").collect()
    assert r["id"] == 1 and r["arr"] == [2, 3, 4]
    assert (r["st"]["name"], r["st"]["n"]) == ("x", 9)


# --- spelling equivalences ------------------------------------------------


def test_keyword_and_kv_spellings_equivalent(cs):
    path = _write(["id|city|amt", "1|x|2.5"])
    _mk(cs, "t_sp1")
    _mk(cs, "t_sp2")
    cs.sql(f"LOAD DATA FACT FROM '{path}' INTO CUBE t_sp1 PARTITIONDATA(DELIMITER '|')")
    cs.sql(f"LOAD DATA INPATH '{path}' INTO TABLE t_sp2 OPTIONS('DELIMITER'='|')")
    assert _rows(cs, "t_sp1") == _rows(cs, "t_sp2") == {(1, "x", 2.5)}


def test_options_and_partitiondata_keywords_interchangeable(cs):
    # loadData accepts (PARTITIONDATA | OPTIONS) for the same clause
    path = _write(["id|city|amt", "1|x|2.5"])
    _mk(cs, "t_sp3")
    cs.sql(f"LOAD DATA FACT FROM '{path}' INTO CUBE t_sp3 OPTIONS(DELIMITER '|')")
    assert _rows(cs, "t_sp3") == {(1, "x", 2.5)}


def test_option_keys_case_insensitive(cs):
    path = _write(["id|city|amt", "1|x|2.5"])
    _mk(cs, "t_ci")
    cs.sql(
        f"LOAD DATA INPATH '{path}' INTO TABLE t_ci"
        " OPTIONS('DeLiMiTeR'='|', 'MULTILINE'='FALSE')"
    )
    assert _rows(cs, "t_ci") == {(1, "x", 2.5)}


def test_fields_terminated_by_alias(cs):
    # the trailing FIELDS TERMINATED BY 'd' clause = DELIMITER
    path = _write(["id;city;amt", "1;x;2.5"])
    _mk(cs, "t_ft")
    cs.sql(
        f"LOAD DATA FACT FROM '{path}' INTO CUBE t_ft"
        " OPTIONS(QUOTECHAR '\"') FIELDS TERMINATED BY ';'"
    )
    assert _rows(cs, "t_ft") == {(1, "x", 2.5)}


# --- reject: never silently ignore --------------------------------------


def test_unknown_option_raises(cs):
    path = _write(["1,x,2.5"])
    _mk(cs, "t_rej1")
    with pytest.raises(ValueError, match="unknown LOAD option"):
        cs.sql(
            f"LOAD DATA INPATH '{path}' INTO TABLE t_rej1"
            " OPTIONS('ALL_DICTIONARY_PATH'='/tmp/x')"
        )


def test_malformed_option_pair_raises(cs):
    path = _write(["1,x,2.5"])
    _mk(cs, "t_rej2")
    with pytest.raises(ValueError, match="malformed option"):
        cs.sql(
            f"LOAD DATA INPATH '{path}' INTO TABLE t_rej2"
            " OPTIONS('DELIMITER'=',', bogus garbage)"
        )


def test_dimension_from_rejected_loudly(cs):
    path = _write(["1,x,2.5"])
    _mk(cs, "t_rej3")
    with pytest.raises(ValueError, match="DIMENSION FROM"):
        cs.sql(
            f"LOAD DATA FACT FROM '{path}' DIMENSION FROM d:'/tmp/d.csv'"
            " INTO CUBE t_rej3 PARTITIONDATA(DELIMITER ',')"
        )


# --- header and option-placement hardening ----------------------------------


def test_headerless_file_without_fileheader_raises(cs):
    """A LOAD whose peeked 'header' matches no table column means the
    file is headerless (its first DATA row would be eaten) or belongs to
    a different table: the by-name projection would load all-NULL rows.
    Must raise, not corrupt."""
    _mk(cs, "t_noheader")
    p = _write(["1,bonn,2.5", "2,kiel,3.5"])
    with pytest.raises(ValueError, match="no column of the file header"):
        cs.sql(f"LOAD DATA INPATH '{p}' INTO TABLE t_noheader")
    # the same file loads fine once FILEHEADER names the columns
    cs.sql(
        f"LOAD DATA INPATH '{p}' INTO TABLE t_noheader "
        "OPTIONS('FILEHEADER'='id,city,amt')"
    )
    assert _rows(cs, "t_noheader") == {(1, "bonn", 2.5), (2, "kiel", 3.5)}


def test_statements_resolve_table_names_case_insensitively(cs):
    """The reference's Hive-backed catalog is case-insensitive; its own
    sortexpr suite CREATEs ...Sort and LOADs INTO ...sort. LOAD,
    DESCRIBE, SHOW LOADS, ALTER, and DROP must all resolve a
    case-mismatched spelling."""
    _mk(cs, "CaseCube")
    p = _write(["id,city,amt", "1,bonn,2.5"])
    cs.sql(f"LOAD DATA INPATH '{p}' INTO TABLE casecube")
    assert cs.sql("select count(*) c from CaseCube").collect()[0][0] == 1
    assert cs.sql("DESCRIBE CASECUBE").count() > 0
    assert cs.sql("SHOW LOADS FOR CUBE casecube").count() == 1
    cs.sql("ALTER TABLE casecube ADD COLUMNS (note string)")
    assert "note" in [f.name for f in cs.store.schema("CaseCube").fields]
    cs.sql("DROP CUBE IF EXISTS cAsEcUbE")
    assert "CaseCube" not in cs.store.tables()


def test_decimal_sort_column_is_excluded_everywhere(cs, spark):
    """Bare/precision decimal dimensions load without crashing through
    every DDL branch (pyarrow cannot read parquet decimal statistics, so
    decimals are excluded from the zone-map sort set)."""
    p = _write(["id,city,amt", "1,bonn,2.5", "2,kiel,3.5"])
    cs.sql("CREATE TABLE t_dec (id decimal(10,2), city string) SORTED BY (id, city)")
    cs.sql(f"LOAD DATA INPATH '{p}' INTO TABLE t_dec")
    assert cs.sql("select count(*) c from t_dec").collect()[0][0] == 2
    cs.sql(
        "CREATE TABLE t_dec_hive (id decimal, city string) STORED BY "
        "'org.apache.carbondata.format'"
    )
    cs.sql(f"LOAD DATA INPATH '{p}' INTO TABLE t_dec_hive")
    assert cs.sql("select count(*) c from t_dec_hive").collect()[0][0] == 2


# --- option VALUE semantics sweep (spellings, defaults, collisions) -------


def test_delimiter_tab_spelling(cs):
    # CarbonUtil.unescapeChar (CarbonUtil.java:1559-1576): '\t' means TAB
    path = _write(["id\tcity\tamt", "1\tx\t2.5"])
    _mk(cs, "t_tab")
    cs.sql(
        f"LOAD DATA FACT FROM '{path}' INTO CUBE t_tab "
        r"PARTITIONDATA(DELIMITER '\t')"
    )
    assert _rows(cs, "t_tab") == {(1, "x", 2.5)}


def test_delimiter_001_spelling(cs):
    path = _write(["id\x01city\x01amt", "1\x01x\x012.5"])
    _mk(cs, "t_soh")
    cs.sql(
        f"LOAD DATA FACT FROM '{path}' INTO CUBE t_soh "
        r"PARTITIONDATA(DELIMITER '\001')"
    )
    assert _rows(cs, "t_soh") == {(1, "x", 2.5)}


def test_escapechar_default_backslash_stays_literal(cs):
    # reference default escapeChar "" -> ignoreEscape
    # (CSVFilePartitioner.java:241-246): a backslash in data is DATA
    path = _write(["id,city,amt", r"1,a\b,2.5"])
    _mk(cs, "t_noesc")
    cs.sql(f"LOAD DATA FACT FROM '{path}' INTO CUBE t_noesc PARTITIONDATA(DELIMITER ',')")
    assert _rows(cs, "t_noesc") == {(1, r"a\b", 2.5)}


def test_escapechar_empty_explicitly_disables(cs):
    path = _write(["id,city,amt", r"1,a\b,2.5"])
    _mk(cs, "t_esc0")
    cs.sql(
        f"LOAD DATA FACT FROM '{path}' INTO CUBE t_esc0 "
        "PARTITIONDATA(ESCAPECHAR '')"
    )
    assert _rows(cs, "t_esc0") == {(1, r"a\b", 2.5)}


def test_escapechar_first_char_of_longer_value(cs):
    # reference: escapeChar.charAt(0) — extra characters are ignored
    path = _write(["id,city,amt", '1,"a!"b",2.5'])
    _mk(cs, "t_esc1")
    cs.sql(
        f"LOAD DATA FACT FROM '{path}' INTO CUBE t_esc1 "
        "PARTITIONDATA(ESCAPECHAR '!ignored')"
    )
    assert _rows(cs, "t_esc1") == {(1, 'a"b', 2.5)}


def test_multiline_true_quoted_newline(cs):
    d = mkdtemp(prefix="loadopts_ml_")
    p = os.path.join(d, "data.csv")
    with open(p, "w") as f:
        f.write('id,city,amt\n1,"two\nlines",2.5\n')
    _mk(cs, "t_ml")
    cs.sql(
        f"LOAD DATA FACT FROM '{p}' INTO CUBE t_ml "
        "PARTITIONDATA(MULTILINE 'true')"
    )
    assert _rows(cs, "t_ml") == {(1, "two\nlines", 2.5)}


def test_delimiter_complex_collision_rejected(cs):
    # cubeSchema.scala:1881-1885: field delimiter colliding with either
    # complex-type delimiter is an outright error
    path = _write(["id$city$amt", "1$x$2.5"])
    _mk(cs, "t_coll")
    with pytest.raises(Exception, match="delimiter are same"):
        cs.sql(
            f"LOAD DATA FACT FROM '{path}' INTO CUBE t_coll "
            "PARTITIONDATA(DELIMITER '$')"
        )
    with pytest.raises(Exception, match="delimiter are same"):
        cs.sql(
            f"LOAD DATA FACT FROM '{path}' INTO CUBE t_coll "
            "PARTITIONDATA(COMPLEX_DELIMITER_LEVEL_1 ':')"
        )


def test_delimiter_complex_collision_raw_spelling(cs):
    """The reference compares RAW option spellings
    (cubeSchema.scala:1881-1885) — DELIMITER '\\t' (backslash-t, later
    unescaped to a tab) against COMPLEX_DELIMITER_LEVEL_1 '\\t' (kept
    raw) must collide, even though the unescaped byte differs from the
    raw spelling."""
    path = _write(["id\tcity\tamt", "1\tx\t2.5"])
    _mk(cs, "t_collraw")
    with pytest.raises(Exception, match="delimiter are same"):
        cs.sql(
            f"LOAD DATA INPATH '{path}' INTO TABLE t_collraw "
            "OPTIONS('delimiter'='\\t', 'complex_delimiter_level_1'='\\t')"
        )
    # and the unescaped-byte collision is still caught: an ACTUAL tab
    # complex delimiter vs the unescaped '\t' field delimiter (only
    # constructible through the options dict — SQL text trims the tab)
    with pytest.raises(Exception, match="delimiter are same"):
        cs._load_data(
            path,
            "t_collraw",
            {"delimiter": "\\t", "complex_delimiter_level_1": "\t"},
        )


def test_header_peek_skips_compressed_members(cs):
    """A .csv.gz member is decompressed transparently by
    Spark's reader, but the per-file header validation's raw readline
    would see gzip bytes and spuriously reject the load — compressed
    members keep the documented uniform-header assumption instead."""
    import gzip

    d = mkdtemp(prefix="loadopts_gzdir_")
    with open(os.path.join(d, "a.csv"), "w") as f:
        f.write("id,city,amt\n1,bonn,2.5\n")
    with gzip.open(os.path.join(d, "b.csv.gz"), "wt") as f:
        f.write("id,city,amt\n2,kiel,3.5\n")
    _mk(cs, "t_gz")
    cs.sql(f"LOAD DATA INPATH '{d}' INTO TABLE t_gz")
    assert _rows(cs, "t_gz") == {(1, "bonn", 2.5), (2, "kiel", 3.5)}


def test_file_uri_conflicting_headers_rejected(cs):
    """The per-file header validation also covers file:// URIs —
    a two-file directory whose members carry DIFFERENT headers would
    silently mis-project every non-peeked file and must raise."""
    d = mkdtemp(prefix="loadopts_conflict_")
    with open(os.path.join(d, "a.csv"), "w") as f:
        f.write("id,city,amt\n1,bonn,2.5\n")
    with open(os.path.join(d, "b.csv"), "w") as f:
        f.write("amt,city,id\n3.5,kiel,2\n")
    _mk(cs, "t_conflict")
    with pytest.raises(ValueError, match="different from the peeked"):
        cs.sql(f"LOAD DATA INPATH 'file://{d}' INTO TABLE t_conflict")


def test_glob_load_is_local_and_header_validated(cs):
    """A LOAD path containing a Spark glob
    ('/dir/part-*.csv') fails os.path.exists but IS local — it must be
    expanded and per-file header-validated, not misclassified as a
    non-local URI that silently skips validation."""
    d = mkdtemp(prefix="loadopts_glob_")
    with open(os.path.join(d, "part-a.csv"), "w") as f:
        f.write("id,city,amt\n1,bonn,2.5\n")
    with open(os.path.join(d, "part-b.csv"), "w") as f:
        f.write("amt,city,id\n3.5,kiel,2\n")  # conflicting header order
    with open(os.path.join(d, "other.txt"), "w") as f:
        f.write("not,part,of\n9,the,load\n")
    _mk(cs, "t_glob")
    with pytest.raises(ValueError, match="different from the peeked"):
        cs.sql(f"LOAD DATA INPATH '{d}/part-*.csv' INTO TABLE t_glob")
    # matching headers through the same glob load fine (other.txt ignored)
    with open(os.path.join(d, "part-b.csv"), "w") as f:
        f.write("id,city,amt\n2,kiel,3.5\n")
    cs.sql(f"LOAD DATA INPATH '{d}/part-*.csv' INTO TABLE t_glob")
    assert _rows(cs, "t_glob") == {(1, "bonn", 2.5), (2, "kiel", 3.5)}


def test_local_load_members_scheme_classification():
    """Non-local is decided by URI scheme, not existence: hdfs/s3a URIs
    -> None; file: URIs and bare paths (even nonexistent globs) stay
    local."""
    from carbondata_spark.sql import _local_load_members

    assert _local_load_members("hdfs://nn/data/x.csv") is None
    assert _local_load_members("s3a://bucket/k/part-*.csv") is None
    assert _local_load_members("/nonexistent/part-*.csv") == []
    d = mkdtemp(prefix="loadopts_members_")
    for name in ("a.csv", "b.csv.gz", "_meta", ".hidden"):
        with open(os.path.join(d, name), "w") as f:
            f.write("x\n")
    want = [os.path.join(d, "a.csv")]
    assert _local_load_members(d) == want  # dir: compressed/hidden skipped
    assert _local_load_members(f"file://{d}") == want
    assert _local_load_members(os.path.join(d, "*.csv")) == want  # glob
    assert _local_load_members(want[0]) == want  # plain file


def test_nonlocal_header_carried_load_warns(cs, monkeypatch):
    """A non-local URI (hdfs://, s3a://, ...) with a file-carried
    header cannot be per-file validated driver-side — the load proceeds
    under the documented uniform-header assumption but WARNS, so a
    directory mixing header orders is at least diagnosable."""
    import warnings

    import carbondata_spark.sql as sql_mod

    p = _write(["id,city,amt", "1,bonn,2.5"])
    monkeypatch.setattr(sql_mod, "_local_load_members", lambda path: None)
    _mk(cs, "t_nonlocal")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        cs.sql(f"LOAD DATA INPATH '{p}' INTO TABLE t_nonlocal")
    assert any("per-file header validation is skipped" in str(x.message) for x in w)
    assert _rows(cs, "t_nonlocal") == {(1, "bonn", 2.5)}


def test_empty_local_member_set_warns(cs, monkeypatch):
    """A LOCAL path whose member expansion is EMPTY (mistyped path, a
    Spark-only glob Python cannot expand like '{a,b}.csv', or
    directory-only matches) skips per-file header validation. It must
    warn, so a load that validated nothing is diagnosable."""
    import warnings

    import carbondata_spark.sql as sql_mod

    p = _write(["id,city,amt", "1,bonn,2.5"])
    # Simulate the silent class: the path is local (members is a list)
    # but expansion found no plain files.
    monkeypatch.setattr(sql_mod, "_local_load_members", lambda path: [])
    _mk(cs, "t_emptymembers")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        cs.sql(f"LOAD DATA INPATH '{p}' INTO TABLE t_emptymembers")
    assert any(
        "matched no plain files" in str(x.message) for x in w
    ), [str(x.message) for x in w]
    assert _rows(cs, "t_emptymembers") == {(1, "bonn", 2.5)}


def test_capture_load_removes_its_staging_copy(cs, monkeypatch, tmp_path):
    # capture mode stages the parsed input as parquet before the load;
    # once the segment is committed the staging copy must be gone
    import tempfile

    path = _write(["id,city,amt", "1,x,2.5", "2,y,oops", "3,z,4.5"])
    _mk(cs, "t_capture")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    cs.sql(
        f"LOAD DATA INPATH '{path}' INTO TABLE t_capture"
        " OPTIONS('bad_records_action'='capture')"
    )
    assert _rows(cs, "t_capture") == {(1, "x", 2.5), (3, "z", 4.5)}
    assert not list(tmp_path.glob("carbondata_badrecords_*"))
