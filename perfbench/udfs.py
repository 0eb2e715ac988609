"""The benchmark pipelines' UDFs.

They live in a real module file on purpose: the engine reads UDF source
through ``inspect.getsource``, which fails on ``exec``'d strings and would
send every UDF to the interpreter path.  The oracle (oracle.py) calls the
very same functions under plain CPython.

Each workload's expected compile path is pinned in workloads.py: every
zillow UDF must compile; in service311 the ZIP, filter and city UDFs must
compile and the date UDF and its resolver must be rejected.
"""

import datetime
import math

# ----------------------------------------------------------------- zillow
# The Z2 chain of the reference's Zillow benchmark (same functions as
# tests/test_zillow_port.py).

ZILLOW_COLUMNS = ["title", "address", "city", "state", "postal_code",
                  "price", "facts and features", "real estate provider",
                  "url"]
ZILLOW_OUT = ["url", "zipcode", "address", "city", "state", "bedrooms",
              "bathrooms", "sqft", "offer", "type", "price"]


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


def bedrooms_ok(x):
    return x["bedrooms"] < 10


def is_condo(x):
    return x["type"] == "condo"


def zipcode(x):
    return "%05d" % int(x["postal_code"])


def cap_city(x):
    return x[0].upper() + x[1:].lower()


def sale_in_range(x):
    return 100000 < x["price"] < 2e7 and x["offer"] == "sale"


# ZILLOW_CHAIN is the pipeline, in order: (method, column, udf).
ZILLOW_CHAIN = [
    ("withColumn", "bedrooms", extractBd),
    ("filter", None, bedrooms_ok),
    ("withColumn", "type", extractType),
    ("filter", None, is_condo),
    ("withColumn", "zipcode", zipcode),
    ("mapColumn", "city", cap_city),
    ("withColumn", "bathrooms", extractBa),
    ("withColumn", "sqft", extractSqft),
    ("withColumn", "offer", extractOffer),
    ("withColumn", "price", extractPrice),
    ("filter", None, sale_in_range),
]

# ------------------------------------------------------------- service311

S311_COLUMNS = ["Unique Key", "Created Date", "Agency", "Complaint Type",
                "Incident Zip", "City", "Borough"]
S311_OUT = ["zip", "City", "Borough", "daypart", "AgencyName"]
CREATED_FORMAT = "%m/%d/%Y %I:%M:%S %p"
ALT_CREATED_FORMAT = "%Y-%m-%dT%H:%M:%S"


def fix_zip(x):
    """ZIP+4 codes keep their first five digits; ``N/A`` raises ValueError
    (resolved below) and a missing ZIP raises TypeError (ignored)."""
    z = x["Incident Zip"]
    if len(z) == 10 and z[5] == "-":
        z = z[:5]
    return int(z)


def resolve_zip(x):
    """Unknown ZIPs get a per-borough placeholder code."""
    return 10000 + len(x["Borough"])


def zip_known(x):
    return x["zip"] > 0


def city_upper(c):
    """A missing city raises AttributeError, left unresolved."""
    return c.upper()


# The compiler rejects datetime parsing: these two run on the interpreter
# path, the resolver through the per-row Python resolve.

def _daypart(hour):
    return "night" if hour < 6 else "day" if hour < 18 else "evening"


def daypart(x):
    d = datetime.datetime.strptime(x["Created Date"], CREATED_FORMAT)
    return _daypart(d.hour)


def daypart_alt(x):
    d = datetime.datetime.strptime(x["Created Date"], ALT_CREATED_FORMAT)
    return _daypart(d.hour)
