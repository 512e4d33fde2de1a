"""Seeded input generators for the benchmark, with ground truth.

`write_csv` writes an RFC-4180 CSV (quoted commas, doubled quotes,
multi-byte text, empty numerics, planted ragged rows) and returns the
values every check compares against. The same seed always gives the
same bytes.
"""
import collections
import zlib

HEADER = ["id", "name", "city", "qty", "price", "discount", "active",
          "day", "category", "note", "score", "code"]
# dynamicTyping outcome per column: d = double, b = boolean, s = string
TYPED = {"id": "d", "name": "s", "city": "s", "qty": "d", "price": "d",
         "discount": "d", "active": "b", "day": "s", "category": "s",
         "note": "s", "score": "d", "code": "s"}
CATEGORIES = ["books", "garden", "toys", "music", "tools", "food",
              "health", "sports"]
FIRST = ["Ana", "Bo", "Chen", "Dmitri", "Eve", "Femi", "Göran", "Hana"]
LAST = ["Smith", "Nguyen", "Okafor", "Müller", "García", "Kowalski",
        "Sato", "Ivanova"]
CITIES = ["Zürich", "São Paulo", "Kraków", "東京", "Москва", "Αθήνα",
          "Montréal", "Reykjavík", "İstanbul", "Lagos", "Chicago", "서울"]
WORDS = ["fast", "slow", "red", "blue", "parse", "quote", "field", "row",
         "naïve", "café", "値", "данные"]
RAGGED_EVERY = 5000


def _money(cents):
    sign = "-" if cents < 0 else ""
    c = abs(cents)
    return f"{sign}{c // 100}.{c % 100:02d}"


def _crc(s):
    return zlib.crc32(s.encode("utf-8"))


def _field(v):
    if v is None:
        return ""
    if v == "" or any(ch in v for ch in ',"\n\r'):
        return '"' + v.replace('"', '""') + '"'
    return v


def _columns(rng, rows):
    """Column-major records: {name: [parsed value]} plus {name: [cents]}
    for the numeric columns. A parsed value is None for an unquoted empty
    field and "" for a quoted empty one."""
    def ints(lo, hi):
        return rng.integers(lo, hi + 1, rows).tolist()

    def holes(p):
        return (rng.random(rows) < p).tolist()

    first, last, form, word = ints(0, 7), ints(0, 7), rng.random(rows).tolist(), ints(0, 11)
    name = []
    for f, la, x, w in zip(first, last, form, word):
        if x < 0.2:
            name.append(f"{LAST[la]}, {FIRST[f]}")            # quoted comma
        elif x < 0.3:
            name.append(f'{FIRST[f]} "{WORDS[w]}" {LAST[la]}')  # doubled quotes
        else:
            name.append(f"{FIRST[f]} {LAST[la]}")
    qty_c = [None if h else q * 100 for q, h in zip(ints(0, 999), holes(0.05))]
    price_c = [None if h else p for p, h in zip(ints(0, 500000), holes(0.05))]
    disc_c, score_c = ints(0, 50), ints(-99999, 99999)
    note_kind, n_words = rng.random(rows).tolist(), ints(1, 6)
    note_words, comma, tail = rng.integers(0, 12, (rows, 6)).tolist(), holes(0.3), ints(0, 11)
    note = []
    for k, nw, ws, c, t in zip(note_kind, n_words, note_words, comma, tail):
        if k < 0.1:
            note.append(None)
        elif k < 0.2:
            note.append("")
        else:
            s = " ".join(WORDS[x] for x in ws[:nw])
            note.append(s + ", " + WORDS[t] if c else s)
    cents = {"id": [i * 100 for i in range(rows)], "qty": qty_c,
             "price": price_c, "discount": disc_c, "score": score_c}
    values = {
        "id": [str(i) for i in range(rows)], "name": name,
        "city": [CITIES[c] for c in ints(0, len(CITIES) - 1)],
        "qty": [None if q is None else str(q // 100) for q in qty_c],
        "price": [None if p is None else _money(p) for p in price_c],
        "discount": [_money(d) for d in disc_c],
        "active": ["true" if a else "false" for a in holes(0.5)],
        "day": [f"20{y}-{m:02d}-{d:02d}" for y, m, d in
                zip(ints(10, 24), ints(1, 12), ints(1, 28))],
        "category": [CATEGORIES[c] for c in ints(0, len(CATEGORIES) - 1)],
        "note": note,
        "score": [_money(s) for s in score_c],
        "code": [f"{chr(65 + a)}{b}-{c:05d}" for a, b, c in
                 zip(ints(0, 25), ints(0, 9), ints(0, 99999))],
    }
    return values, cents


def _crc_sum(counts):
    """(non-null count, sum of crc32 over UTF-8 bytes of non-null values)
    from a Counter of parsed values."""
    present = [(v, c) for v, c in counts.items() if v is not None]
    return sum(c for _, c in present), sum(_crc(v) * c for v, c in present)


def write_csv(path, seed, rows):
    """Write `rows` data lines and return the ground truth as a dict."""
    import numpy as np
    rng = np.random.default_rng(seed)
    values, cents = _columns(rng, rows)
    # ragged rows: one per RAGGED_EVERY-row block, at a seeded offset,
    # alternating too few (last 4 fields cut) and too many (2 extra)
    offsets = rng.integers(0, RAGGED_EVERY, rows // RAGGED_EVERY).tolist()
    ragged = {b * RAGGED_EVERY + o: "few" if b % 2 == 0 else "many"
              for b, o in enumerate(offsets)}
    n = len(HEADER)
    cut = HEADER[n - 4:]
    for i, kind in ragged.items():
        if kind == "few":   # the cut fields parse as null
            for h in cut:
                values[h][i] = None
                if h in cents:
                    cents[h][i] = None
    # only these columns can hold a comma, a quote or a quoted empty
    quoted = {"name", "note"}
    fields = [[_field(v) for v in values[h]] if h in quoted
              else ["" if v is None else v for v in values[h]]
              for h in HEADER]
    lines = [",".join(r) for r in zip(*fields)]
    for i, kind in ragged.items():
        lines[i] = (",".join(f[i] for f in fields[:n - 4]) if kind == "few"
                    else lines[i] + ",extra,x")
    data = ("\n".join([",".join(HEADER)] + lines) + "\n").encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)

    default, strict, typed = [], [], {}
    for h in HEADER:
        col = values[h]
        counts = collections.Counter(col)
        nn, crc = _crc_sum(counts)
        default.append({"nonnull": nn, "crc": crc})
        # the strict shape drops the ragged lines
        dropped = [col[i] for i in ragged if col[i] is not None]
        strict.append({"nonnull": nn - len(dropped),
                       "crc": crc - sum(map(_crc, dropped))})
        kind = TYPED[h]
        if kind == "d":
            present = [c for c in cents[h] if c is not None]
            typed[h] = {"nonnull": len(present), "sum": sum(present)}
        elif kind == "b":
            typed[h] = {"nonnull": default[-1]["nonnull"],
                        "sum": col.count("true")}
        else:
            typed[h] = {"nonnull": default[-1]["nonnull"],
                        "sum": default[-1]["crc"]}
    return {
        "bytes": len(data), "rows": rows, "ragged": len(ragged),
        "ragged_few": sum(k == "few" for k in ragged.values()),
        "columns": HEADER, "typed_kinds": TYPED,
        "default": default, "strict": strict, "typed": typed,
    }
