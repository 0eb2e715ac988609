"""Config-matrix differential pipeline test.

Ports the reference's ZillowConfigHarness pattern
(test/core/FullPipelines.cc:674-721): the same realistic ETL pipeline runs
under every combination of engine flags (compiled UDFs on/off, exception
capture on/off) and its output must be byte-identical to the reference
configuration — plus a CPython-computed golden result.
"""

import itertools

import pytest

import tuplex_spark as tx


# a zillow-Z1-shaped pipeline: dict rows, string surgery, casts, filters
RAW = [
    {"address": "1 Main St", "zipcode": "02139", "price": "$1,200,000",
     "sqft": "1200", "kind": "house"},
    {"address": "2 Elm St", "zipcode": "2139", "price": "$450,000",
     "sqft": "800", "kind": "condo"},
    {"address": "3 Oak Ave", "zipcode": "94107", "price": "N/A",
     "sqft": "1500", "kind": "house"},
    {"address": "4 Pine Rd", "zipcode": "10001", "price": "$2,000,000",
     "sqft": "bad", "kind": "house"},
    {"address": "5 Lake Dr", "zipcode": "60601", "price": "$750,000",
     "sqft": "950", "kind": "condo"},
    {"address": "6 Hill Ct", "zipcode": "98101", "price": "$325,000",
     "sqft": "600", "kind": "house"},
]


def build_pipeline(c: tx.Context):
    return (c.parallelize(RAW)
            .withColumn("price_n",
                        lambda x: int(x["price"].replace("$", "")
                                      .replace(",", "")))
            .withColumn("sqft_n", lambda x: int(x["sqft"]))
            .withColumn("zip5", lambda x: x["zipcode"].zfill(5))
            .filter(lambda x: x["kind"] == "house")
            .withColumn("ppsf", lambda x: x["price_n"] / x["sqft_n"])
            .selectColumns(["address", "zip5", "price_n", "ppsf"]))


GOLDEN = [("1 Main St", "02139", 1200000, 1000.0),
          ("6 Hill Ct", "98101", 325000, 541.6666666666666)]


class TestConfigMatrix:
    @pytest.mark.parametrize("compiled,shuffle", list(
        itertools.product([True, False], [2, 8])))
    def test_same_output_under_all_flags(self, compiled, shuffle):
        """Engine flags must never change results (reference:
        ZillowConfigHarness / TPCH.cc 16-combination matrix)."""
        c = tx.Context(conf={"tuplex.useCompiledUDFs": compiled,
                             "tuplex.shufflePartitions": shuffle},
                       name="matrix")
        got = build_pipeline(c).collect()
        assert got == GOLDEN

    def test_exception_accounting_reference_config(self, ctx):
        ds = build_pipeline(ctx)
        ds.collect()
        # N/A price -> ValueError; 'bad' sqft -> ValueError
        assert ds.exception_counts == {"ValueError": 2}

    @pytest.mark.parametrize("compiled", [True, False])
    def test_resolver_recovers_dirty_rows(self, compiled):
        """The compiled and the Python resolver agree."""
        c = tx.Context(conf={"tuplex.useCompiledUDFs": compiled},
                       name="matrix")
        ds = (c.parallelize(RAW)
              .withColumn("price_n",
                          lambda x: int(x["price"].replace("$", "")
                                        .replace(",", "")))
              .resolve(ValueError, lambda x: -1)
              .filter(lambda x: x["kind"] == "house")
              .selectColumns(["address", "price_n"]))
        assert ds.collect() == [("1 Main St", 1200000), ("3 Oak Ave", -1),
                                ("4 Pine Rd", 2000000), ("6 Hill Ct", 325000)]
        assert ds.exception_counts == {}

    @pytest.mark.parametrize("compiled", [True, False])
    def test_scalar_resolver_fills_tuple_map(self, compiled):
        """A resolver's result fills the failing map's columns by
        position on both resolver paths: a scalar fills the first."""
        c = tx.Context(conf={"tuplex.useCompiledUDFs": compiled},
                       name="matrix")
        ds = (c.parallelize([1, 2, 0, 4])
              .map(lambda x: (10 // x,))
              .resolve(ZeroDivisionError, lambda x: -1))
        assert ds.collect() == [(10,), (5,), (-1,), (2,)]
        assert ds.exception_counts == {}
        assert c.metrics.fallbackUDFs == (0 if compiled else 1)


def build_pipeline_r2(c: tx.Context):
    """Second matrix pipeline: the newer compiled shapes (first-match
    scan, comprehension with condition, constant dict lookup, sorted
    key=, dynamic-key .get) under every flag combination."""
    region = {"021": "NE", "941": "W", "100": "NE", "606": "MW",
              "981": "W"}

    def first_digit_token(x):
        for t in x["address"].split(" "):
            if t.isdigit():
                return int(t)
        return -1

    return (c.parallelize(RAW)
            .withColumn("num", first_digit_token)
            .withColumn("words", lambda x: len(
                [w for w in x["address"].split(" ") if len(w) > 2]))
            .withColumn("region",
                        lambda x: region.get(x["zipcode"][:3], "?"))
            .withColumn("longest", lambda x: sorted(
                x["address"].split(" "), key=len, reverse=True)[0])
            .filter(lambda x: x["num"] > 0)
            .selectColumns(["address", "num", "words", "region",
                            "longest"]))


class TestConfigMatrixRound2:
    def _golden(self):
        region = {"021": "NE", "941": "W", "100": "NE", "606": "MW",
                  "981": "W"}
        out = []
        for r in RAW:
            num = next((int(t) for t in r["address"].split(" ")
                        if t.isdigit()), -1)
            if num <= 0:
                continue
            words = len([w for w in r["address"].split(" ")
                         if len(w) > 2])
            reg = region.get(r["zipcode"][:3], "?")
            longest = sorted(r["address"].split(" "), key=len,
                             reverse=True)[0]
            out.append((r["address"], num, words, reg, longest))
        return out

    @pytest.mark.parametrize("compiled", [True, False])
    def test_round2_shapes_under_flags(self, compiled):
        c = tx.Context(conf={"tuplex.useCompiledUDFs": compiled},
                       name="matrix2")
        got = build_pipeline_r2(c).collect()
        assert got == self._golden()
        if compiled:
            assert c.metrics.fallbackUDFs == 0, \
                "round-2 shapes must all take the compiled path"
