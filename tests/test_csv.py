"""CSV source: sampling inference (delimiter/header/types), null_values,
type_hints, corrupt rows, writer roundtrip (reference: test_csv.py,
CSVStatistic / FileInputOperator behavior)."""

import os

import pytest


@pytest.fixture()
def tmpcsv(tmp_path):
    def write(name, content):
        p = tmp_path / name
        p.write_text(content)
        return str(p)
    return write


class TestInference:
    def test_header_and_types(self, ctx, tmpcsv):
        p = tmpcsv("a.csv", "name,age,score\nalice,34,1.5\nbob,29,2.25\n")
        ds = ctx.csv(p)
        assert ds.columns == ["name", "age", "score"]
        assert ds.collect() == [("alice", 34, 1.5), ("bob", 29, 2.25)]

    def test_no_header(self, ctx, tmpcsv):
        p = tmpcsv("b.csv", "1,x\n2,y\n3,z\n")
        ds = ctx.csv(p)
        assert ds.columns == ["column0", "column1"]
        assert ds.collect() == [(1, "x"), (2, "y"), (3, "z")]

    def test_semicolon_delimiter_detected(self, ctx, tmpcsv):
        p = tmpcsv("c.csv", "a;b\n1;2\n3;4\n")
        ds = ctx.csv(p)
        assert ds.collect() == [(1, 2), (3, 4)]

    def test_pipe_delimiter(self, ctx, tmpcsv):
        p = tmpcsv("d.csv", "x|y|z\n1|2.5|q\n3|4.5|w\n")
        assert ctx.csv(p).collect() == [(1, 2.5, "q"), (3, 4.5, "w")]

    def test_null_values(self, ctx, tmpcsv):
        p = tmpcsv("e.csv", "a,b\n1,hello\n2,NA\n3,world\n")
        ds = ctx.csv(p, null_values=["NA"])
        assert ds.collect() == [(1, "hello"), (2, None), (3, "world")]

    def test_type_hints(self, ctx, tmpcsv):
        p = tmpcsv("f.csv", "a,b\n1,2\n3,4\n")
        ds = ctx.csv(p, type_hints={"b": float})
        assert ds.collect() == [(1, 2.0), (3, 4.0)]

    def test_column_rename(self, ctx, tmpcsv):
        p = tmpcsv("g.csv", "a,b\n1,2\n")
        ds = ctx.csv(p, columns=["x", "y"])
        assert ds.columns == ["x", "y"]

    def test_multifile_schema_drift_widens(self, ctx, tmp_path):
        # single-file sampling would type column b as int from part-0
        # and quarantine every part-1 row into _corrupt_record; the
        # k-file sample union must widen b to float instead
        d = tmp_path / "drift"
        d.mkdir()
        (d / "part-0.csv").write_text("a,b\n1,2\n3,4\n")
        (d / "part-1.csv").write_text("a,b\n5,6.5\n7,8.25\n")
        ds = ctx.csv(str(d / "part-*.csv"))
        rows = sorted(ds.collect())
        assert rows == [(1, 2.0), (3, 4.0), (5, 6.5), (7, 8.25)]
        assert ds.exception_counts == {}

    def test_multifile_extra_column_keeps_lead_schema(self, ctx, tmp_path):
        # a later file GAINED a column: schema width must come from the
        # lead file (a global-max width discarded every lead-file row
        # and inference returned empty -> misleading '(empty file?)'
        # error); the wider file's rows are quarantined at scan time
        d = tmp_path / "gain"
        d.mkdir()
        (d / "p0.csv").write_text("a,b,c\n1,2,x\n3,4,y\n")
        (d / "p1.csv").write_text("a,b,c\n5,6,z\n7,8,w\n")
        (d / "p2.csv").write_text("a,b,c,d\n9,10,v,99\n11,12,u,98\n")
        ds = ctx.csv(str(d / "p*.csv"))
        assert ds.columns == ["a", "b", "c"]
        rows = sorted(ds.collect())
        assert rows == [(1, 2, "x"), (3, 4, "y"), (5, 6, "z"), (7, 8, "w")]
        assert ds.exception_counts.get("BadParseInput", 0) >= 2

    def test_multifile_delimiter_vote(self, ctx, tmp_path):
        # 2 of 3 files use ';' — the per-file majority vote must win
        # over the first file's delimiter
        d = tmp_path / "vote"
        d.mkdir()
        (d / "p0.csv").write_text("1;2\n3;4\n")
        (d / "p1.csv").write_text("5;6\n7;8\n")
        (d / "p2.csv").write_text("9;10\n11;12\n")
        rows = sorted(ctx.csv(str(d / "p*.csv")).collect())
        assert rows == [(1, 2), (3, 4), (5, 6), (7, 8), (9, 10), (11, 12)]

    def test_multifile_null_widening(self, ctx, tmp_path):
        # part-1 introduces NA cells in an int column: pooled sampling
        # keeps int (nulls don't count toward the majority)
        d = tmp_path / "nulls"
        d.mkdir()
        (d / "p0.csv").write_text("a,b\n1,2\n3,4\n")
        (d / "p1.csv").write_text("a,b\n5,NA\n9,10\n")
        ds = ctx.csv(str(d / "p*.csv"), null_values=["NA"])
        rows = sorted(ds.collect(), key=lambda r: r[0])
        assert rows == [(1, 2), (3, 4), (5, None), (9, 10)]


class TestCorruptRows:
    # one bad cell in 10 rows: int stays the normal-case type
    # (tuplex.normalcaseThreshold = 0.9) and the bad row quarantines
    CONTENT = "a,b\n" + "".join(f"{i},{i * 2}\n" for i in range(9)) \
        + "x,99\n"

    def test_bad_cell_becomes_exception(self, ctx, tmpcsv):
        p = tmpcsv("h.csv", self.CONTENT)
        ds = ctx.csv(p)
        assert ds.collect() == [(i, i * 2) for i in range(9)]
        assert ds.exception_counts == {"BadParseInput": 1}

    def test_bad_rows_resolvable_pipeline_continues(self, ctx, tmpcsv):
        p = tmpcsv("i.csv", self.CONTENT)
        ds = ctx.csv(p).map(lambda x: x["a"] + x["b"])
        assert ds.collect() == [3 * i for i in range(9)]

    def test_mixed_column_widens_when_below_threshold(self, ctx, tmpcsv):
        # all-string body makes the header undetectable by type contrast;
        # the explicit header flag (reference API) disambiguates
        p = tmpcsv("j.csv", "a,b\n1,x\n2,y\nhello,z\n")
        ds = ctx.csv(p, header=True)
        # 2/3 ints < 0.9 threshold -> column widens to str, nothing lost
        assert ds.collect() == [("1", "x"), ("2", "y"), ("hello", "z")]


class TestWriter:
    def test_roundtrip(self, ctx, tmp_path):
        out = str(tmp_path / "out")
        ds = ctx.parallelize([(1, "a"), (2, "b"), (3, "c")], ["n", "s"])
        ds.tocsv(out, num_parts=1)
        back = ctx.csv(out + "/part-*.csv")
        assert sorted(back.collect()) == [(1, "a"), (2, "b"), (3, "c")]


class TestText:
    def test_text_lines(self, ctx, tmp_path):
        p = tmp_path / "t.txt"
        p.write_text("one\ntwo\nthree\n")
        ds = ctx.text(str(p))
        assert sorted(ds.collect()) == ["one", "three", "two"]

    def test_text_map(self, ctx, tmp_path):
        p = tmp_path / "u.txt"
        p.write_text("ab\ncd\n")
        ds = ctx.text(str(p)).map(lambda s: s.upper())
        assert sorted(ds.collect()) == ["AB", "CD"]


class TestParquetOrc:
    def test_parquet_read(self, ctx):
        ds = ctx.parquet("/root/testdata/sf0.001/region.parquet")
        assert len(ds.collect()) == 5

    def test_orc_roundtrip(self, ctx, tmp_path):
        out = str(tmp_path / "orc")
        ctx.parallelize([(1, "a"), (2, "b")], ["n", "s"]).toorc(out)
        back = ctx.orc(out)
        assert sorted(back.collect()) == [(1, "a"), (2, "b")]


class TestWriterExtras:
    def test_part_name_generator(self, ctx, tmp_path):
        out = str(tmp_path / "named")
        ds = ctx.parallelize([(1, "a"), (2, "b")], ["n", "s"])
        ds.tocsv(out, num_parts=1,
                 part_name_generator=lambda i: f"chunk_{i}.csv")
        import os
        files = sorted(os.listdir(out))
        assert "chunk_0.csv" in files

    def test_num_rows_limit(self, ctx, tmp_path):
        out = str(tmp_path / "limited")
        ds = ctx.parallelize([(i,) for i in range(10)], ["n"])
        ds.tocsv(out, num_parts=1, num_rows=3)
        back = ctx.csv(out + "/part-*.csv")
        assert len(back.collect()) == 3


class TestMetrics:
    def test_metrics_populated(self):
        import tuplex_spark as tx
        c = tx.Context(name="metrics_test")
        ds = c.parallelize([1, 2, 0, 4]).map(lambda x: 10 // x)
        ds.collect()
        m = c.metrics
        assert m.compiledUDFs >= 1
        assert m.numActions == 1
        assert m.totalExceptionCount == 1
        assert m.totalRunTime > 0
        assert m.lastActionRowCount == 3


class TestContextUtilities:
    """Reference Context surface: options(nested)/optionsToYAML/ls/cp/rm
    (reference context.py:407-479)."""

    def test_options_nested(self, ctx):
        flat = ctx.options()
        assert flat["tuplex.exceptions"] is True
        nested = ctx.options(nested=True)
        assert nested["tuplex"]["exceptions"] is True
        assert nested["tuplex"]["useCompiledUDFs"] is True

    def test_options_to_yaml(self, ctx, tmp_path):
        p = str(tmp_path / "config.yaml")
        ctx.optionsToYAML(p)
        text = open(p).read()
        assert "tuplex:" in text and "exceptions: true" in text

    def test_ls_cp_rm(self, ctx, tmp_path):
        src = tmp_path / "src"
        src.mkdir()
        for i in range(3):
            (src / f"f{i}.txt").write_text(str(i))
        got = ctx.ls(str(src / "*.txt"))
        assert len(got) == 3
        dst = tmp_path / "dst"
        ctx.cp(str(src / "*.txt"), str(dst))
        assert len(ctx.ls(str(dst / "*.txt"))) == 3
        ctx.rm(str(dst / "*.txt"))
        assert ctx.ls(str(dst / "*.txt")) == []


class TestQuoting:
    def test_quoted_delimiter_and_escaped_quotes(self, ctx, tmp_path):
        p = tmp_path / "q.csv"
        p.write_text('name,desc,n\n'
                     '"smith, john","said ""hi""",1\n'
                     'plain,nothing,2\n')
        ds = ctx.csv(str(p))
        rows = ds.collect()
        assert rows[0] == ("smith, john", 'said "hi"', 1)
        assert rows[1] == ("plain", "nothing", 2)


class Test311Pipeline:
    """Port of the reference's 311-data pipeline (test_aggregates.py
    test_311): csv with null_values + index-keyed typing.Optional hints,
    mapColumn with a def UDF, unique, tocsv."""

    DATA = (
        "UniqueKey,CreatedDate,Agency,ComplaintType,Descriptor,"
        "IncidentZip,StreetName\n"
        "46688741,06/30/2020 07:24:41 PM,NYPD,Noise - Residential,"
        "Loud Music/Party,10037.0,MADISON AVENUE\n"
        "53493739,02/28/2022 07:30:31 PM,NYPD,Illegal Parking,"
        "Double Parked Blocking Traffic,11203.0,EAST   56 STREET\n"
        "48262955,11/27/2020 12:00:00 PM,DSNY,Derelict Vehicles,"
        "Derelict Vehicles,11203.0,CLARKSON AVENUE\n"
        "48262956,11/27/2020 12:00:00 PM,DSNY,Derelict Vehicles,"
        "Derelict Vehicles,11208.0,SHEPHERD AVENUE\n"
        "48262973,11/27/2020 03:46:00 PM,DEP,Water Quality,"
        "unknown odor/taste in drinking water (QA6),10021.0,"
        "EAST   70 STREET\n"
        "53493766,02/28/2022 05:28:38 AM,NYPD,Noise - Vehicle,"
        "Car/Truck Horn,00000.0,PARSONS BOULEVARD\n"
    )

    def test_311_fix_zip_unique_tocsv(self, ctx, tmp_path):
        import typing
        p = tmp_path / "t311.csv"
        p.write_text(self.DATA)

        def fix_zip_codes(zips):
            if not zips:
                return None
            s = zips[:5]
            if s == "00000":
                return None
            else:
                return s

        df = ctx.csv(str(p),
                     null_values=["Unspecified", "NO CLUE", "NA", "N/A",
                                  "0", ""],
                     type_hints={i: typing.Optional[str]
                                 for i in range(6)})
        ds = df.mapColumn("IncidentZip", fix_zip_codes).unique()
        out = tmp_path / "out311"
        ds.tocsv(str(out), num_parts=1)
        rows = ds.collect()
        assert len(rows) == 6
        zips = sorted(r[5] or "" for r in rows)
        assert zips == ["", "10021", "10037", "11203", "11203", "11208"]
        import glob
        assert glob.glob(str(out) + "/part-*.csv")


class TestJsonSource:
    """Context.json — Spark-native addition (the reference has no JSON
    source; SURVEY §2.6 notes only parallelize dict auto-unpack)."""

    def _write(self, tmp_path, lines):
        p = tmp_path / "data.json"
        p.write_text("\n".join(lines))
        return str(p)

    def test_jsonl_scan(self, ctx, tmp_path):
        path = self._write(tmp_path, [
            '{"a": 1, "b": "x"}',
            '{"a": 2, "b": "y"}',
            '{"a": 3, "b": "z"}'])
        ds = ctx.json(path)
        rows = sorted(ds.collect())
        assert ds.columns == ["a", "b"]
        assert rows == [(1, "x"), (2, "y"), (3, "z")]

    def test_json_pipeline(self, ctx, tmp_path):
        path = self._write(tmp_path, [
            '{"a": 1, "b": "x"}', '{"a": 4, "b": "yy"}',
            '{"a": 9, "b": "zzz"}'])
        out = (ctx.json(path)
               .filter(lambda x: x["a"] > 1)
               .map(lambda x: {"r": x["a"] * len(x["b"])})
               .collect())
        assert sorted(out) == [8, 27]

    def test_corrupt_records_quarantined(self, ctx, tmp_path):
        path = self._write(tmp_path, [
            '{"a": 1, "b": "x"}',
            'this is not json at all {{{',
            '{"a": 2, "b": "y"}'])
        ds = ctx.json(path)
        rows = sorted(ds.collect())
        assert rows == [(1, "x"), (2, "y")]
        counts = ds.exception_counts
        assert counts.get("BadParseInput", 0) == 1, counts

    def test_missing_keys_are_null(self, ctx, tmp_path):
        path = self._write(tmp_path, [
            '{"a": 1, "b": "x"}', '{"a": 2}', '{"b": "z"}'])
        ds = ctx.json(path)
        rows = sorted(ds.collect(), key=repr)
        assert (2, None) in rows and (None, "z") in rows

    def test_tojson_roundtrip(self, ctx, tmp_path):
        out = str(tmp_path / "sink")
        ctx.parallelize([(1, "x", 1.5), (2, "y", -0.25)],
                        columns=["a", "b", "c"]).tojson(out)
        ds = ctx.json(out + "/part-*.json")
        rows = sorted(r for r in ds.collect())
        assert sorted(ds.columns) == ["a", "b", "c"]
        # types survive the round trip: long, string, double
        assert rows == [(1, "x", 1.5), (2, "y", -0.25)]


class TestCsvReferenceEdges:
    """reference test_csv.py edges not yet codified here."""

    def test_tab_delimiter_detected(self, ctx, tmp_path):
        # reference test_tsv: sampling inference must vote for tab
        p = tmp_path / "t.tsv"
        p.write_text("a\tb\tc\n1\t2.5\tx\n3\t4.5\ty\n")
        ds = ctx.csv(str(p))
        assert ds.columns == ["a", "b", "c"]
        assert ds.collect() == [(1, 2.5, "x"), (3, 4.5, "y")]

    def test_non_existent_file_raises(self, ctx, tmp_path):
        # reference test_non_existent_file: plan-time error, not a hang
        import pytest as _pt
        with _pt.raises(FileNotFoundError):
            ctx.csv(str(tmp_path / "nope.csv"))


class TestWriterReferenceParams:
    def test_header_name_list(self, ctx, tmp_path):
        out = str(tmp_path / "named")
        ctx.parallelize([(1, "a"), (2, "b")], columns=["x", "y"]) \
           .tocsv(out, header=["id", "tag"], num_parts=1)
        import glob
        text = open(glob.glob(out + "/part-*.csv")[0]).read()
        assert text.splitlines()[0] == "id,tag"

    def test_header_list_wrong_arity(self, ctx, tmp_path):
        import pytest as _pytest
        with _pytest.raises(ValueError):
            ctx.parallelize([(1, "a")], columns=["x", "y"]) \
               .tocsv(str(tmp_path / "bad"), header=["only_one"])

    def test_part_size_splits_output(self, ctx, tmp_path):
        out = str(tmp_path / "parts")
        rows = [(i, "payload-%04d" % i) for i in range(200)]
        ctx.parallelize(rows, columns=["i", "p"]) \
           .tocsv(out, num_parts=1, part_size=300)
        import glob
        files = glob.glob(out + "/part-*.csv")
        # a ~300-byte cap over ~18-byte rows must split one partition
        # into multiple files
        assert len(files) > 1


class TestRfc4180MultilineRecords:
    def test_quoted_newline_field(self, ctx, tmp_path):
        p = tmp_path / "ml.csv"
        p.write_text('id,name,notes\n'
                     '1,"Smith, John","line1\nline2"\n'
                     '2,Plain,"say ""hi"""\n')
        ds = ctx.csv(str(p))
        got = ds.collect()
        assert got == [(1, "Smith, John", "line1\nline2"),
                       (2, "Plain", 'say "hi"')], got

    def test_plain_files_stay_splittable(self, ctx, tmp_path):
        # no unterminated quote in the sample -> multiLine stays off
        from tuplex_spark.sources import csv_inference as CSV
        p = tmp_path / "plain.csv"
        p.write_text('a,b\n1,"x,y"\n2,z\n')
        *_, multiline = CSV.detect(str(p), None, None, [""])
        assert multiline is False
