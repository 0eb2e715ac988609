"""Exception-model semantics: implicit drop, resolve chains, ignore,
in-order merge (reference: test_exceptions.py, test_resolve.py)."""

import hashlib
import re

from tuplex_spark.plans.inspect import formatted_plan


class TestImplicitDrop:
    def test_none_rows_dropped_and_counted(self, ctx):
        ds = ctx.parallelize([1, 2, None, 4]).map(lambda x: x * 2)
        assert ds.collect() == [2, 4, 8]
        assert ds.exception_counts == {"TypeError": 1}

    def test_order_preserved_across_drop(self, ctx):
        ds = ctx.parallelize([3, 0, 5, 0, 7]).map(lambda x: 100 // x)
        assert ds.collect() == [33, 20, 14]


class TestResolve:
    def test_basic(self, ctx):
        ds = (ctx.parallelize([1, 2, 0, 4])
              .map(lambda x: 10 // x)
              .resolve(ZeroDivisionError, lambda x: -1))
        assert ds.collect() == [10, 5, -1, 2]
        assert ds.exception_counts == {}

    def test_resolve_wrong_class_keeps_exception(self, ctx):
        ds = (ctx.parallelize([1, 0, 2])
              .map(lambda x: 10 // x)
              .resolve(ValueError, lambda x: -1))
        assert ds.collect() == [10, 5]
        assert ds.exception_counts == {"ZeroDivisionError": 1}

    def test_resolver_chain(self, ctx):
        def second(x):
            return -99

        def first(x):
            if x == 0:
                raise ValueError("pass along")
            return 0
        ds = (ctx.parallelize([4, 0, 2])
              .map(lambda x: 8 // x)
              .resolve(ZeroDivisionError, first)
              .resolve(ValueError, second))
        assert ds.collect() == [2, -99, 4]

    def test_resolve_base_class_catches_subclass(self, ctx):
        ds = (ctx.parallelize([1, 0, 2])
              .map(lambda x: 10 // x)
              .resolve(Exception, lambda x: 0))
        assert ds.collect() == [10, 0, 5]

    def test_resolve_on_filter(self, ctx):
        ds = (ctx.parallelize(["1", "x", "3"])
              .filter(lambda s: int(s) > 1)
              .resolve(ValueError, lambda s: True))
        assert ds.collect() == ["x", "3"]

    def test_resolve_fallback_resolver(self, ctx):
        """A resolver the compiler rejects runs on the interpreter path:
        behind a compiled map it is the plan's one MapInPandas node."""
        def hex_len(x):  # hashlib does not compile
            return len(hashlib.sha256(str(x).encode()).hexdigest())
        ds = (ctx.parallelize([1, 0, 5])
              .map(lambda x: 10 // x)
              .resolve(ZeroDivisionError, hex_len))
        plan = formatted_plan(ds._df)
        assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1
        assert ds.collect() == [10, 64, 2]
        assert ds.exception_counts == {}


class TestInterpreterPath:
    """Regressions from the time the interpreter path had one copy per
    operator kind: plan-time sampling, payload encoding and resolver
    output conformance now behave the same for every op.  The UDFs use
    hashlib, which the compiler rejects, so they and their resolvers run
    on the interpreter path."""

    def test_withcolumn_sample_is_budgeted(self, ctx):
        def grow(x):
            n = x["n"]
            while n < 100:
                n *= 2
            return n
        # n=0 never reaches 100: CPython would loop forever on it, the
        # compiled plan guards it into RuntimeError, and plan-time
        # sampling must give up on the row instead of hanging
        rows = [(3, "a"), (0, "b"), (7, "c")]
        ds = ctx.parallelize(rows, columns=["n", "s"]).withColumn("g", grow)
        assert ds.collect() == [(3, "a", 192), (7, "c", 112)]
        assert ds.exception_counts == {"RuntimeError": 1}

    def test_python_resolver_reads_bytes_payload(self, ctx):
        def digest(x):
            if x["n"] <= 0:
                raise ValueError("no digest for a non-positive n")
            return hashlib.sha1(x["b"]).hexdigest()[:8]

        def digest_fallback(x):
            return hashlib.md5(x["b"]).hexdigest()[:8]
        rows = [(b"ab", 1), (b"cd", -1), (b"\x00\xff", -2)]
        ds = (ctx.parallelize(rows, columns=["b", "n"])
              .map(digest)
              .resolve(ValueError, digest_fallback))
        want = []
        for b, n in rows:
            try:
                want.append(digest({"b": b, "n": n}))
            except ValueError:
                want.append(digest_fallback({"b": b, "n": n}))
        assert ds.collect() == want
        assert ds.exception_counts == {}

    def test_python_resolver_misfit_is_normal_case_violation(self, ctx):
        # the resolver returns an int into the UDF's string column: that
        # row becomes an exception row, the job does not fail
        def tag(x):
            if x["n"] <= 0:
                raise ValueError("no tag for a non-positive n")
            return hashlib.md5(x["s"].encode()).hexdigest()[:6]

        def tag_width(x):
            return len(hashlib.md5(x["s"].encode()).digest())
        rows = [("ab", 1), ("cd", -1), ("ef", 2)]
        ds = (ctx.parallelize(rows, columns=["s", "n"])
              .withColumn("t", tag)
              .resolve(ValueError, tag_width))
        assert ds.collect() == [("ab", 1, tag({"s": "ab", "n": 1})),
                                ("ef", 2, tag({"s": "ef", "n": 2}))]
        assert ds.exception_counts == {"NormalCaseViolation": 1}


class TestIgnore:
    def test_ignore_drops_silently(self, ctx):
        ds = (ctx.parallelize([1, 2, 0, 4])
              .map(lambda x: 10 // x)
              .ignore(ZeroDivisionError))
        assert ds.collect() == [10, 5, 2]
        assert ds.exception_counts == {}

    def test_ignore_specific_class_only(self, ctx):
        def f(x):
            if x < 0:
                raise ValueError("neg")
            return 10 // x
        ds = (ctx.parallelize([1, -1, 0, 2])
              .map(f)
              .ignore(ValueError))
        assert ds.collect() == [10, 5]
        assert ds.exception_counts == {"ZeroDivisionError": 1}


class TestAcrossOperators:
    def test_exceptions_survive_downstream_ops(self, ctx):
        ds = (ctx.parallelize([1, 0, 4])
              .map(lambda x: 10 // x)
              .map(lambda x: x + 1))
        assert ds.collect() == [11, 3]
        assert ds.exception_counts == {"ZeroDivisionError": 1}

    def test_exceptions_parked_at_join(self, ctx):
        left = ctx.parallelize([(1, 2), (2, 0), (3, 4)], ["k", "d"]) \
            .withColumn("q", lambda x: 10 // x["d"])
        right = ctx.parallelize([(1, "a"), (3, "b")], ["k", "v"])
        j = left.join(right, "k", "k")
        rows = j.collect()
        assert sorted(rows) == [(2, 5, 1, "a"), (4, 2, 3, "b")]
        assert j.exception_counts == {"ZeroDivisionError": 1}

    def test_exception_counts_with_multiple_classes(self, ctx):
        def f(x):
            if x == "a":
                raise ValueError("a")
            return 10 // int(x)
        ds = ctx.parallelize(["2", "a", "0", "5"]).map(f)
        assert ds.collect() == [5, 2]
        assert ds.exception_counts == {"ValueError": 1,
                                       "ZeroDivisionError": 1}

    def test_disable_exceptions_option(self):
        import tuplex_spark as tx
        c = tx.Context(conf={"tuplex.exceptions": False}, name="tests")
        ds = c.parallelize([1, 2, 4]).map(lambda x: x * 2)
        assert ds.collect() == [2, 4, 8]
        from tuplex_spark.udf.fallback import EXC_CODE
        assert EXC_CODE not in ds._df.columns


class TestMajorityTypeVoting:
    """parallelize normal-case typing votes per column: the MAJORITY
    type family is the schema; minority rows quarantine as
    BadParallelizeInput (reference normalcaseThreshold semantics,
    FileInputOperator.cc:229-299 — the reference additionally re-runs
    violators through the pipeline's interpreter path; here they are
    counted and excluded, recoverable via the quarantine payload)."""

    def test_minority_string_is_the_violation(self, ctx):
        ds = ctx.parallelize([0, "e1", 0]).filter(lambda x: x != 0)
        assert ds.collect() == []
        assert ds.exception_counts.get("BadParallelizeInput") == 1

    def test_majority_flows_through_pipeline(self, ctx):
        ds = ctx.parallelize([1, 2, "x", 4]).map(lambda x: x * 10)
        assert ds.collect() == [10, 20, 40]
        assert ds.exception_counts.get("BadParallelizeInput") == 1

    def test_numeric_mixes_widen_not_quarantine(self, ctx):
        ds = ctx.parallelize([1, 2.5, True])
        assert ds.collect() == [1.0, 2.5, 1.0]
        assert ds.exception_counts == {}

    def test_per_column_vote(self, ctx):
        ds = ctx.parallelize([(1, "a"), (2, "b"), ("x", "c")],
                             columns=["n", "s"])
        assert ds.collect() == [(1, "a"), (2, "b")]
        assert ds.exception_counts.get("BadParallelizeInput") == 1


class TestResolveWithRound2Shapes:
    """The exception model composed with the newer compiled shapes:
    guards raised inside first-match scans / dict lookups / mixed
    compares must be resolvable and ignorable like any other."""

    def test_resolve_first_match_guard(self, ctx):
        def f(s):
            for t in s.split(" "):
                if t.isdigit():
                    return 100 // int(t)
            return -1
        ds = ctx.parallelize(["a 0 b", "5 x", "nope"]).map(f) \
                .resolve(ZeroDivisionError, lambda s: -99)
        assert ds.collect() == [-99, 20, -1]
        assert ds.exception_counts == {}

    def test_resolver_uses_dict_lookup(self, ctx):
        ds = ctx.parallelize([1, 3, 5, 6]).map(lambda x: 10 // (x % 3)) \
                .resolve(ZeroDivisionError,
                         lambda x: {0: -1, 3: -3}.get(x % 7, -9))
        assert ds.collect() == [10, -3, 5, -9]

    def test_ignore_dict_keyerror(self, ctx):
        ds = ctx.parallelize([1, 2, 9]) \
                .map(lambda x: {1: "a", 2: "b"}[x]).ignore(KeyError)
        assert ds.collect() == ["a", "b"]

    def test_resolve_mixed_compare_typeerror(self, ctx):
        ds = ctx.parallelize(["ab", "abcd"]) \
                .map(lambda s: (s < 5) if len(s) > 3 else True) \
                .resolve(TypeError, lambda s: False)
        assert ds.collect() == [True, False]

    def test_resolver_sees_exact_timestamp_payload(self, ctx):
        """Payloads round-trip through to_json/from_json; the default
        timestampFormat truncated microseconds, so a resolver reading a
        timestamp column got a subtly different value than the failing
        UDF saw (reference semantics: the exact input row)."""
        import datetime
        rows = [(1, datetime.datetime(2021, 3, 4, 5, 6, 7, 123456)),
                (0, datetime.datetime(2022, 1, 2, 3, 4, 5, 987654)),
                (2, datetime.datetime(2020, 6, 7, 8, 9, 10, 1))]
        ds = ctx.parallelize(rows, columns=["k", "ts"]) \
                .map(lambda x: 100 // x["k"]) \
                .resolve(ZeroDivisionError,
                         lambda x: x["ts"].microsecond)
        assert ds.collect() == [100, 987654, 50]
        assert ds.exception_counts == {}

    def test_resolver_sees_exact_binary_payload(self, ctx):
        rows = [(1, b"ok"), (0, b"\x00\xff weird \x01"), (5, b"")]
        ds = ctx.parallelize(rows, columns=["k", "b"]) \
                .map(lambda x: 100 // x["k"]) \
                .resolve(ZeroDivisionError, lambda x: len(x["b"]))
        assert ds.collect() == [100, len(b"\x00\xff weird \x01"), 20]
        assert ds.exception_counts == {}

    def test_staged_cse_resolver_stays_compiled(self, ctx):
        """A resolver body complex enough to need staged CSE layers
        (string-pipeline shape: find/slice/replace chains) must compile
        onto the resolve select chain like map() bodies do — until
        round 3 it silently demoted to the Arrow fallback."""
        def res(s):
            t = s.replace("-", " ").strip()
            head = t[:t.find(" ")] if t.find(" ") >= 0 else t
            tail = t[t.rfind(" ") + 1:]
            mid = t.upper().replace(" ", "_")
            return head + "|" + mid + "|" + tail + "|" + str(len(t))
        data = ["a-bc d", "12", "  q-r  ", "one two three", "7"]
        ds = ctx.parallelize(data) \
                .map(lambda s: "n=" + str(int(s) * 2)) \
                .resolve(ValueError, res)
        plan = ds._df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan, "resolver fell back to Arrow"
        assert "ArrowEvalPython" not in plan

        def ref(s):
            try:
                return "n=" + str(int(s) * 2)
            except ValueError:
                return res(s)
        assert ds.collect() == [ref(s) for s in data]
        assert ds.exception_counts == {}
