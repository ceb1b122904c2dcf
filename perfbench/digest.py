"""Result fingerprints, identical to the harness's `graftbench.Digest`.

A digest is `rows:crc32` over the canonical text of each row, one row per
line; unordered results are sorted by that text first. Canonical values:
null is `\\N`, a float is floor(x*100+0.5), a timestamp is epoch
microseconds, a date is its ISO day, a bool is `true`/`false`.
"""
import datetime as dt
import math
import zlib

_EPOCH = dt.datetime(1970, 1, 1)


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else str(math.floor(v * 100 + 0.5))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str((v - _EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def row_text(row):
    return "|".join(canon(v) for v in row)


def of_texts(texts, ordered):
    xs = list(texts) if ordered else sorted(texts)
    c = 0
    for s in xs:
        c = zlib.crc32((s + "\n").encode("utf-8"), c)
    return f"{len(xs)}:{c}"


def of_rows(rows, ordered):
    return of_texts([row_text(r) for r in rows], ordered)
