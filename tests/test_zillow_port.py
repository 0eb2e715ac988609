"""End-to-end port of the reference's flagship Zillow cleaning pipeline
(reference: benchmarks/zillow/Z2/runtuplex.py:13-111,190-203): the same
withColumn/mapColumn/filter chain with the same UDFs, run on synthetic
listing rows and checked against plain CPython applying the identical
chain.  This is the workload shape the reference's SIGMOD'21 numbers are
built on — string find/rfind/slicing, int/float casts, chained compares,
and multi-step withColumn dependencies."""

import math
import threading
from collections import Counter

import pytest

COLUMNS = ["title", "address", "city", "state", "postal_code", "price",
           "facts and features", "real estate provider", "url"]


def extractBd(x):
    val = x["facts and features"]
    max_idx = val.find(" bd")
    if max_idx < 0:
        max_idx = len(val)
    s = val[:max_idx]
    split_idx = s.rfind(",")
    if split_idx < 0:
        split_idx = 0
    else:
        split_idx += 2
    r = s[split_idx:]
    return int(r)


def extractBa(x):
    val = x["facts and features"]
    max_idx = val.find(" ba")
    if max_idx < 0:
        max_idx = len(val)
    s = val[:max_idx]
    split_idx = s.rfind(",")
    if split_idx < 0:
        split_idx = 0
    else:
        split_idx += 2
    r = s[split_idx:]
    ba = math.ceil(2.0 * float(r)) / 2.0
    return ba


def extractSqft(x):
    val = x["facts and features"]
    max_idx = val.find(" sqft")
    if max_idx < 0:
        max_idx = len(val)
    s = val[:max_idx]
    split_idx = s.rfind("ba ,")
    if split_idx < 0:
        split_idx = 0
    else:
        split_idx += 5
    r = s[split_idx:]
    r = r.replace(",", "")
    return int(r)


def extractOffer(x):
    offer = x["title"].lower()
    if "sale" in offer:
        return "sale"
    if "rent" in offer:
        return "rent"
    if "sold" in offer:
        return "sold"
    if "foreclose" in offer.lower():
        return "foreclosed"
    return offer


def extractType(x):
    t = x["title"].lower()
    type = "unknown"
    if "condo" in t or "apartment" in t:
        type = "condo"
    if "house" in t:
        type = "house"
    return type


def extractPrice(x):
    price = x["price"]
    p = 0
    if x["offer"] == "sold":
        val = x["facts and features"]
        s = val[val.find("Price/sqft:") + len("Price/sqft:") + 1:]
        r = s[s.find("$") + 1:s.find(", ") - 1]
        price_per_sqft = int(r)
        p = price_per_sqft * x["sqft"]
    elif x["offer"] == "rent":
        max_idx = price.rfind("/")
        p = int(price[1:max_idx].replace(",", ""))
    else:
        p = int(price[1:].replace(",", ""))
    return p


def _row(title, price, facts, city="boSTon", zipc="02125"):
    return (title, "1 Main St", city, "MA", zipc, price, facts,
            "provider", "http://example.com/1")


ROWS = [
    _row("Condo for sale", "$450,000",
         "3 bds , 2.5 ba , 1,500 sqft"),
    _row("Apartment for rent", "$2,500/mo",
         "2 bds , 1 ba , 900 sqft"),
    _row("Condo recently sold", "$0",
         "4 bds , 3 ba , 2,000 sqft , Price/sqft: $250 , more"),
    _row("House for sale", "$950,000",
         "5 bds , 4 ba , 3,500 sqft"),
    _row("Condo for sale", "$5,350,000",
         "4 bds , 3.5 ba , 4,200 sqft", city="caMBridge", zipc="02139"),
    _row("condo foreclosed", "$99,000",
         "1 bd , 1 ba , 600 sqft"),
    _row("Luxury condo for sale", "$25,000,000",
         "9 bds , 9 ba , 12,000 sqft"),   # dropped: price > 2e7
    _row("Condo for sale", "$350,000",
         "12 bds , 3 ba , 5,000 sqft"),   # dropped: bedrooms >= 10
]


# rows that raise in the chain: no bedroom count (ValueError), a city
# with no first letter (IndexError), a ZIP that is no number
# (ValueError), a price with letters in it (ValueError)
DIRTY = ROWS + [
    _row("Condo for sale", "$300,000", "studio , 1 ba , 500 sqft"),
    _row("Condo for sale", "$300,000", "2 bds , 1 ba , 500 sqft", city=""),
    _row("Condo for sale", "$300,000", "2 bds , 1 ba , 500 sqft",
         zipc="MA-02"),
    _row("Condo for sale", "$3OO,000", "2 bds , 1 ba , 800 sqft"),
]


def _cpython_chain(rows, excs=None):
    """The chain in plain CPython; ``excs`` (a Counter) counts the
    exception class of every row that raises."""
    out = []
    for tup in rows:
        x = dict(zip(COLUMNS, tup))
        try:
            x["bedrooms"] = extractBd(x)
            if not x["bedrooms"] < 10:
                continue
            x["type"] = extractType(x)
            if not x["type"] == "condo":
                continue
            x["zipcode"] = "%05d" % int(x["postal_code"])
            c = x["city"]
            x["city"] = c[0].upper() + c[1:].lower()
            x["bathrooms"] = extractBa(x)
            x["sqft"] = extractSqft(x)
            x["offer"] = extractOffer(x)
            x["price"] = extractPrice(x)
            if not (100000 < x["price"] < 2e7 and x["offer"] == "sale"):
                continue
            out.append(tuple(x[c] for c in
                             ["url", "zipcode", "address", "city", "state",
                              "bedrooms", "bathrooms", "sqft", "offer",
                              "type", "price"]))
        except Exception as e:
            if excs is not None:
                excs[type(e).__name__] += 1
            continue
    return out


def _chain(ctx, rows):
    return (ctx.parallelize(rows, columns=COLUMNS)
           .withColumn("bedrooms", extractBd)
           .filter(lambda x: x["bedrooms"] < 10)
           .withColumn("type", extractType)
           .filter(lambda x: x["type"] == "condo")
           .withColumn("zipcode", lambda x: "%05d" % int(x["postal_code"]))
           .mapColumn("city", lambda x: x[0].upper() + x[1:].lower())
           .withColumn("bathrooms", extractBa)
           .withColumn("sqft", extractSqft)
           .withColumn("offer", extractOffer)
           .withColumn("price", extractPrice)
           .filter(lambda x: 100000 < x["price"] < 2e7
                   and x["offer"] == "sale")
           .selectColumns(["url", "zipcode", "address", "city", "state",
                           "bedrooms", "bathrooms", "sqft", "offer",
                           "type", "price"]))


class TestZillowPipeline:
    def test_full_chain_matches_cpython(self, ctx):
        ds = _chain(ctx, ROWS)
        got = ds.collect()
        want = _cpython_chain(ROWS)
        assert got == want
        assert len(got) == 2  # sale condos under 2e7 with < 10 bd

    def test_tocsv_counts_match_cpython(self, ctx, tmp_path):
        want = Counter()
        rows = _cpython_chain(DIRTY, want)
        assert sum(want.values()) == 4
        ds = _chain(ctx, DIRTY)
        ds.tocsv(str(tmp_path))
        assert ds.exception_counts == dict(want)
        assert ctx.spark.read.option("header", True) \
            .csv(str(tmp_path)).count() == len(rows)


# py4j round trips the building thread makes to compile and build the
# chain over ROWS, no action: 14,746 with pyspark's per-call origin
# capture on (its default), 5,226 with it off, as engine sessions build
# it (context.build_session).  The bound is half of 14,746.
ROUND_TRIPS = 7373


class TestPlanBuilding:
    def test_chain_builds_without_origin_capture(self, ctx, monkeypatch):
        from py4j.java_gateway import GatewayClient
        from pyspark.errors.utils import is_debugging_enabled
        from tuplex_spark.udf import compiler
        # compile every UDF: earlier tests may have filled the cache
        monkeypatch.setattr(compiler, "_COMPILE_CACHE", {})
        builder = threading.current_thread()
        sent = [0]
        send = GatewayClient.send_command

        # py4j frees collected Java objects from a thread of its own;
        # only the building thread's round trips are the build's
        def counting(self, *args, **kwargs):
            sent[0] += threading.current_thread() is builder
            return send(self, *args, **kwargs)

        monkeypatch.setattr(GatewayClient, "send_command", counting)
        _chain(ctx, ROWS)
        monkeypatch.undo()
        assert sent[0] <= ROUND_TRIPS, sent[0]
        assert not is_debugging_enabled()

    def test_chain_builds_with_two_selects_per_compiled_op(
            self, ctx, monkeypatch):
        # a compiled op stages all its CSE layers in one select and
        # projects its output in one more: this chain builds with 18
        # selects, where one select per staged layer made 46
        from pyspark.sql.classic.dataframe import DataFrame
        calls = [0]
        select = DataFrame.select

        def counting(self, *cols):
            calls[0] += 1
            return select(self, *cols)

        monkeypatch.setattr(DataFrame, "select", counting)
        before = ctx.metrics.compiledUDFs
        _chain(ctx, ROWS)
        monkeypatch.undo()
        compiled = ctx.metrics.compiledUDFs - before
        assert compiled == 11
        assert calls[0] <= 2 * compiled, calls[0]

    def test_analysis_errors_keep_their_query_context(self, ctx):
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F
        with pytest.raises(AnalysisException) as e:
            ctx.spark.range(3).select(
                F.array(F.array("id"), F.array(F.lit(True))))
        q = e.value.getQueryContext()[0]
        assert q.contextType().name == "DataFrame"
        assert q.fragment() == "array"
