"""Plain-CPython oracle: replays each pipeline over the generated rows.

The oracle calls the same UDFs as the engine (udfs.py) and spells out the
engine's semantics by hand: a row whose UDF raises leaves the pipeline,
``resolve`` re-runs the failing op's input through the resolver, ``ignore``
drops the row silently and a left join keeps the reference's column
order.  Each function returns ``(rows, exception_counts)``; rows are
compared with the engine's as multisets (``rows_match``).
"""

from __future__ import annotations

from collections import Counter

from . import udfs as U

REL_TOL = 1e-12  # the float tolerance tests/conftest.py uses


def zillow(typed_rows):
    out, exc = [], Counter()
    for row in typed_rows:
        if row is None:  # the scan quarantines an unparsable cell
            exc["BadParseInput"] += 1
            continue
        x = dict(zip(U.ZILLOW_COLUMNS, row))
        try:
            for method, col, fn in U.ZILLOW_CHAIN:
                if method == "withColumn":
                    x[col] = fn(x)
                elif method == "mapColumn":
                    x[col] = fn(x[col])
                elif not fn(x):
                    break
            else:
                out.append(tuple(x[c] for c in U.ZILLOW_OUT))
        except Exception as e:
            exc[type(e).__name__] += 1
    return out, dict(exc)


def service311(typed_rows, agencies):
    names = dict(agencies)
    out, exc = set(), Counter()
    for row in typed_rows:
        x = dict(zip(U.S311_COLUMNS, row))
        try:
            try:
                x["zip"] = U.fix_zip(x)
            except ValueError:
                x["zip"] = U.resolve_zip(x)
        except TypeError:
            continue  # .ignore(TypeError)
        except Exception as e:
            exc[type(e).__name__] += 1
            continue
        if not U.zip_known(x):
            continue
        try:
            x["City"] = U.city_upper(x["City"])
            try:
                x["daypart"] = U.daypart(x)
            except ValueError:
                x["daypart"] = U.daypart_alt(x)
        except Exception as e:
            exc[type(e).__name__] += 1
            continue
        x["AgencyName"] = names.get(x["Agency"])  # left join
        out.add(tuple(x[c] for c in U.S311_OUT))
    return sorted(out, key=repr), dict(exc)


# ------------------------------------------------------------ comparison

def _key(v):
    """Sort key that orders None, numbers and strings without raising and
    rounds floats so that near-equal values sort alike."""
    if v is None:
        return (0, 0)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, float):
        return (1, round(v, 6))
    if isinstance(v, int):
        return (1, v)
    if isinstance(v, tuple):
        return (3, tuple(_key(x) for x in v))
    return (2, str(v))


def values_match(a, b, rel: float = REL_TOL) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= rel * max(abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(values_match(x, y, rel)
                                        for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def rows_match(got, want) -> bool:
    """Multiset equality of row tuples, floats within REL_TOL."""
    if len(got) != len(want):
        return False
    g = sorted(got, key=_key)
    w = sorted(want, key=_key)
    return all(values_match(a, b) for a, b in zip(g, w))
