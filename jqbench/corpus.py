"""Seeded JSON corpora and the results each workload must produce.

Everything here is plain Python: no Spark and no import of the engine.
The expected results are computed from the generator's own records, so
the benchmark checks the engine against something the engine did not
compute.  Why each property exists is in ``NOTES.md``.

A document looks like::

    {"id":17,"ts":1700000119,"user":{"name":"u000017","tier":"gold"},
     "tags":["t3","t9"],"items":[{"sku":"SKU-00042","qty":3,"price":12.5,
     "cat":"c04"}, ...],"note":"n17"}
"""

from __future__ import annotations

import random
import zlib
from dataclasses import dataclass, field
from typing import Optional

N_SKUS = 4000
TIERS = ("gold", "silver", "bronze", "free")
CATS = tuple("c%02d" % i for i in range(12))
TAGS = tuple("t%d" % i for i in range(24))
SKUS = tuple("SKU-%05d" % i for i in range(N_SKUS))
BIG_SHARE = 0.02  # documents with a long item list (9..100 items)
CTRL_CHARS = "\x01\x02\x07\t\n\x1b\x1f"

# Dirty classes of the etl_dirty corpus, each on DIRTY_SHARE of the
# documents, so about a quarter of the cells are dirty in all.
DIRTY_KINDS = ("truncated", "null", "dupkey", "bigint", "ctrl")
DIRTY_SHARE = 0.05

# Which dirty documents each tier treats as unparseable.  The Python
# tier parses leniently (raw control characters allowed, as the
# reference's Jackson reader does); the native tier follows strict JSON
# (jq 1.6 also rejects raw control characters) and, like every
# unparseable document on that tier, yields no rows for them.
CORRUPT_PYTHON = frozenset({"truncated"})
CORRUPT_NATIVE = frozenset({"truncated", "ctrl"})


def crc(s: str) -> int:
    """Spark's ``crc32(cast(s as binary))``."""
    return zlib.crc32(s.encode("utf-8"))


# An item is a tuple (sku, qty, cents, cat); its price is cents / 100.
SKU, QTY, CENTS, CAT = range(4)


@dataclass
class Doc:
    """One generated document: the values a jq reader sees (after
    last-wins for duplicate keys) and the text handed to the engine."""

    id: int
    name: str
    tier: str
    tags: tuple
    items: list
    text: Optional[str]
    kind: str = "clean"


def _item_text(it: tuple, dup: Optional[str] = None) -> str:
    """Render one item.  ``dup`` names a key written twice: first with a
    decoy value, last with the real one (jq keeps the last)."""
    sku, qty, cents, cat = it
    text = '"sku":"%s","qty":%d,"price":%d.%02d,"cat":"%s"}' % (
        sku, qty, cents // 100, cents % 100, cat)
    if dup == "sku":
        return '{"sku":"DECOY-%s",' % sku[4:] + text
    if dup == "qty":
        return '{"qty":%d,' % (qty + 100) + text
    if dup == "price":
        return '{"price":%d.5,' % (cents + 1000) + text
    return "{" + text


def _make_doc(rng: random.Random, i: int, kind: str) -> Doc:
    r = rng.random
    # mostly 0..6 items, a few percent long lists: document size and
    # fan-out both vary, so a per-document cost and a per-row cost
    # cannot hide behind each other
    n = int(r() * 92) + 9 if r() < BIG_SHARE else int(r() * 7)
    items = [
        # half the skus from a heavy-tailed popularity curve, half uniform
        (SKUS[min(int(rng.paretovariate(1.1)) - 1, N_SKUS - 1)
              if r() < 0.5 else int(r() * N_SKUS)],
         int(r() * 20) + 1, int(r() * 99999) + 1, CATS[int(r() * len(CATS))])
        for _ in range(n)
    ]
    tags = tuple(TAGS[int(r() * len(TAGS))] for _ in range(int(r() * 4)))
    doc = Doc(i, "u%06d" % i, TIERS[int(r() * len(TIERS))], tags, items, None, kind)
    note = "n%d" % i
    item_texts = [_item_text(it) for it in items]
    head = ""
    if kind == "dupkey":
        if items and r() < 0.75:
            j = int(r() * n)
            item_texts[j] = _item_text(items[j], ("sku", "qty", "price")[int(r() * 3)])
        else:
            # a top-level duplicate: the first "items" is a decoy
            head = '"items":[%s],' % _item_text(("DECOY-0", 1, 100, "c00"))
    elif kind == "bigint":
        big = "%d" % rng.randint(10 ** 18, 10 ** 24)
        head = '"seq":%s,' % big
        if items:
            j = int(r() * n)
            item_texts[j] = item_texts[j][:-1] + ',"ref":%s}' % big[::-1].lstrip("0")
    elif kind == "ctrl":
        note = "n%d%s%d" % (i, rng.choice(CTRL_CHARS), i)
        if items:
            j = int(r() * n)
            sku, qty, cents, cat = items[j]
            items[j] = (sku[:4] + rng.choice(CTRL_CHARS) + sku[4:], qty, cents, cat)
            item_texts[j] = _item_text(items[j])
    text = (
        '{%s"id":%d,"ts":%d,"user":{"name":"%s","tier":"%s"},"tags":[%s],'
        '"items":[%s],"note":"%s"}'
        % (head, i, 1700000000 + 7 * i, doc.name, doc.tier,
           ",".join('"%s"' % t for t in tags), ",".join(item_texts), note)
    )
    if kind == "truncated":
        # any proper prefix of an object is invalid JSON
        text = text[: rng.randint(1, len(text) - 1)]
    elif kind == "null":
        text = None
    doc.text = text
    return doc


def make_docs(seed: int, n_docs: int, dirty: bool = False) -> list:
    """The corpus for ``seed``: same seed, same documents."""
    rng = random.Random(seed)
    docs = []
    for i in range(n_docs):
        kind = "clean"
        if dirty:
            r = rng.random()
            if r < DIRTY_SHARE * len(DIRTY_KINDS):
                kind = DIRTY_KINDS[int(r / DIRTY_SHARE)]
        docs.append(_make_doc(rng, i, kind))
    return docs


# ---------------------------------------------------------------------------
# ETL programs and their expected aggregates
# ---------------------------------------------------------------------------

# The etl_native program: compiles to Catalyst.
NATIVE_PROGRAM = ".items[] | {sku: .sku, qty: .qty, price: .price}"
NATIVE_DECLS = ("sku:string", "qty:int", "price:double")
# The etl_python program: `.qty * .price` is not provably numeric
# (jq's `*` also repeats strings), so the native compiler rejects it.
PYTHON_PROGRAM = ".items[] | {sku: .sku, amt: (.qty * .price)}"
PYTHON_DECLS = ("sku:string", "amt:double")
# The etl_dirty Python-tier program: substitutes a marker row on $error.
DIRTY_PROGRAM = (
    'if $error then {sku: "!err", amt: ($error.input | length)} '
    "else (.items // [])[] | {sku: .sku, amt: (.qty * .price)} end"
)
DIRTY_DECLS = PYTHON_DECLS


def expect_native(docs: list) -> tuple:
    """``NATIVE_PROGRAM`` aggregated as (count, sum(qty), crc(sku),
    sum(round(price*100)))."""
    rows = total = h = cents = 0
    for d in docs:
        if d.text is None or d.kind in CORRUPT_NATIVE:
            continue
        for sku, qty, c, _cat in d.items:
            rows += 1
            total += qty
            h += crc(sku)
            cents += round(c / 100 * 100)  # as Spark rounds the parsed price
    return (rows, total, h, cents)


def expect_python(docs: list, substitute: bool = False) -> tuple:
    """``PYTHON_PROGRAM`` (or ``DIRTY_PROGRAM`` when ``substitute``)
    aggregated as (count, sum(round(amt*100)), crc(sku))."""
    rows = total = h = 0
    for d in docs:
        if d.text is None:
            continue
        if d.kind in CORRUPT_PYTHON:
            if not substitute:
                raise ValueError("PYTHON_PROGRAM aborts on a corrupt document")
            rows += 1
            total += round(float(len(d.text)) * 100)
            h += crc("!err")
            continue
        for sku, qty, c, _cat in d.items:
            rows += 1
            total += round(qty * (c / 100) * 100)
            h += crc(sku)
    return (rows, total, h)


# ---------------------------------------------------------------------------
# adhoc_mixed: a seeded stream of short queries
# ---------------------------------------------------------------------------

# Every template outputs `s:string` and `n:int`, so one aggregate
# (count, sum(n), crc(s)) checks them all.  `native` records whether
# the native compiler accepts the program text (the benchmark's tests
# pin it); half the templates do.  `rows` is the template's meaning,
# written in Python over the generator's records.
ADHOC_DECLS = ("s:string", "n:int")
REPEAT_SHARE = 0.5  # queries that re-send an earlier program verbatim
SQL_EVERY = 3  # every third new query goes through SQL LATERAL jq(...)


@dataclass(frozen=True)
class Template:
    name: str
    text: str
    native: bool
    lit: object  # rng -> literal
    rows: object  # (docs, literal) -> iterator of (s, n)


def _items(docs):
    for d in docs:
        yield from ((d, it) for it in d.items)


TEMPLATES = (
    Template(
        "qty_above", ".items[] | select(.qty > %s) | {s: .sku, n: .qty}", True,
        lambda r: "%d.%02d" % (r.randint(0, 19), r.randint(0, 99)),
        lambda docs, k: ((it[SKU], it[QTY]) for _d, it in _items(docs)
                         if it[QTY] > float(k)),
    ),
    Template(
        "cat_eq", '.items[] | select(.cat == "%s") | {s: .sku, n: .qty}', True,
        lambda r: r.choice(CATS),
        lambda docs, c: ((it[SKU], it[QTY]) for _d, it in _items(docs)
                         if it[CAT] == c),
    ),
    Template(
        "tier_id", 'select(.user.tier == "%s" and .id > %d) | {s: .user.name, n: .id}',
        True,
        lambda r: (r.choice(TIERS), r.randrange(4000)),
        lambda docs, l: ((d.name, d.id) for d in docs
                         if d.tier == l[0] and d.id > l[1]),
    ),
    Template(
        "tags_join", 'select(.id %% %d == 0) | {s: (.tags | join(",")), n: (.items | length)}',
        True,
        lambda r: r.randint(2, 999),
        lambda docs, m: ((",".join(d.tags), len(d.items)) for d in docs
                         if d.id % m == 0),
    ),
    Template(
        "qty_times", ".items[] | select(.qty > %d) | {s: .sku, n: (.qty * %d)}",
        False,
        lambda r: (r.randint(0, 19), r.randint(2, 9999)),
        lambda docs, l: ((it[SKU], it[QTY] * l[1]) for _d, it in _items(docs)
                         if it[QTY] > l[0]),
    ),
    Template(
        "qty_sum", 'select(.user.tier != "%s") | {s: .user.tier, n: ([.items[].qty] | add // %d)}',
        False,
        lambda r: (r.choice(TIERS), r.randint(0, 9999)),
        lambda docs, l: ((d.tier, sum(it[QTY] for it in d.items) if d.items else l[1])
                         for d in docs if d.tier != l[0]),
    ),
    Template(
        "tier_bind", '.user.tier as $t | .items[] | select(.sku == "%s") | {s: $t, n: .qty}',
        False,
        lambda r: SKUS[r.randrange(N_SKUS)],
        lambda docs, s: ((d.tier, it[QTY]) for d, it in _items(docs) if it[SKU] == s),
    ),
    Template(
        "cat_count", '{s: .user.name, n: ([.items[] | select(.cat == "%s")] | length)}',
        False,
        lambda r: r.choice(CATS),
        lambda docs, c: ((d.name, sum(1 for it in d.items if it[CAT] == c))
                         for d in docs),
    ),
)


def fresh_programs(seed: int, per_template: int, exclude=()) -> list:
    """``per_template`` instances of every ad-hoc template as (program,
    decls) pairs, literals drawn from ``seed`` until each pair is new:
    not in ``exclude`` and not drawn before.  Compiling them misses any
    compile or plan cache keyed by the pair."""
    r = random.Random(seed)
    seen = set(exclude)
    out = []
    for _ in range(per_template):
        for t in TEMPLATES:
            pair = (t.text % t.lit(r), ADHOC_DECLS)
            while pair in seen:
                pair = (t.text % t.lit(r), ADHOC_DECLS)
            seen.add(pair)
            out.append(pair)
    return out


@dataclass(frozen=True)
class Query:
    qid: int
    template: str
    program: str
    sql: bool
    native: bool  # the template's tier on the DataFrame surface
    expect: tuple  # (rows, sum(n), crc(s))
    repeat: bool


@dataclass
class QueryStream:
    """Seeded closed-loop query stream; ``next()`` never runs out.

    A repeat re-sends an earlier (program, surface) pair verbatim, so a
    compile or plan cache could serve it; a fresh query draws literals
    until its text is new."""

    seed: int
    docs: list
    _rng: random.Random = field(init=False)
    _issued: list = field(init=False, default_factory=list)
    _seen: set = field(init=False, default_factory=set)
    _n: int = field(init=False, default=0)

    def __post_init__(self):
        self._rng = random.Random(self.seed * 7919 + 1)

    def next(self) -> Query:
        r = self._rng
        if self._issued and r.random() < REPEAT_SHARE:
            q = r.choice(self._issued)
            q = Query(self._n, q.template, q.program, q.sql, q.native, q.expect, True)
        else:
            q = self._fresh()
        self._n += 1
        return q

    def _fresh(self) -> Query:
        r = self._rng
        sql = len(self._issued) % SQL_EVERY == SQL_EVERY - 1
        for _ in range(100):
            t = r.choice(TEMPLATES)
            lit = t.lit(r)
            program = t.text % lit
            if (program, sql) not in self._seen:
                break
        self._seen.add((program, sql))
        rows = total = h = 0
        for s, n in t.rows(self.docs, lit):
            rows += 1
            total += n
            h += crc(s)
        q = Query(self._n, t.name, program, sql, t.native, (rows, total, h), False)
        self._issued.append(q)
        return q
