"""The generator and its expectations, checked without Spark: against
the engine's own per-row path (``udtf.run_jq``) and, where installed,
against the jq binary."""

import hashlib
import json
import random
import shutil
import subprocess

import pytest

from jqbench import corpus as C
from jqbench.harness import tail
from hive_jq_udtf_spark.native import compile_native
from hive_jq_udtf_spark.udtf import run_jq


def digest(docs):
    h = hashlib.sha256()
    for d in docs:
        h.update(b"\x00NULL" if d.text is None else d.text.encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()


@pytest.mark.parametrize("dirty", [False, True])
def test_same_seed_same_bytes_other_seed_other_bytes(dirty):
    a = C.make_docs(7, 3000, dirty=dirty)
    assert digest(a) == digest(C.make_docs(7, 3000, dirty=dirty))
    assert digest(a) != digest(C.make_docs(8, 3000, dirty=dirty))


def _stream(seed, docs, n=300):
    s = C.QueryStream(seed, docs)
    return [s.next() for _ in range(n)]


def test_query_stream_is_seeded():
    docs = C.make_docs(3, 500)
    a = _stream(3, docs)
    assert a == _stream(3, docs)
    assert [q.program for q in a] != [q.program for q in _stream(4, docs)]
    assert 0.3 < sum(q.repeat for q in a) / len(a) < 0.7
    assert 0.2 < sum(q.sql for q in a) / len(a) < 0.45


def test_compile_set_programs_are_all_new():
    etl = [(C.NATIVE_PROGRAM, C.NATIVE_DECLS)]
    for seed in range(40):
        fresh = C.fresh_programs(seed, 4, exclude=etl)
        assert len(fresh) == 4 * len(C.TEMPLATES)
        assert len(set(fresh) | set(etl)) == len(fresh) + 1
    assert C.fresh_programs(1, 4) == C.fresh_programs(1, 4)


def test_dirty_corpus_has_every_class():
    docs = C.make_docs(5, 4000, dirty=True)
    share = {k: sum(d.kind == k for d in docs) / len(docs) for k in C.DIRTY_KINDS}
    assert all(0.03 < v < 0.07 for v in share.values()), share
    for d in docs:
        if d.kind == "truncated":
            with pytest.raises(ValueError):
                json.loads(d.text, strict=False)
        elif d.kind == "bigint":
            assert any(len(t) >= 19 for t in
                       "".join(c if c.isdigit() else " " for c in d.text).split())


def _agg_native(rows):
    return (len(rows), sum(r[1] for r in rows), sum(C.crc(r[0]) for r in rows),
            sum(round(r[2] * 100) for r in rows))


def _agg_python(rows):
    return (len(rows), sum(round(r[1] * 100) for r in rows), sum(C.crc(r[0]) for r in rows))


def test_etl_expectations_match_run_jq():
    clean = C.make_docs(11, 400)
    dirty = C.make_docs(12, 600, dirty=True)
    rows = lambda prog, decls, docs: [r for d in docs for r in run_jq(prog, d.text, *decls)]
    assert _agg_python(rows(C.PYTHON_PROGRAM, C.PYTHON_DECLS, clean)) == C.expect_python(clean)
    assert _agg_python(rows(C.DIRTY_PROGRAM, C.DIRTY_DECLS, dirty)) == \
        C.expect_python(dirty, substitute=True)
    # the native program under jq semantics, on the documents the native
    # tier treats as parseable (the rest yield no rows there)
    parsed = [d for d in dirty if d.text is not None and d.kind not in C.CORRUPT_NATIVE]
    assert _agg_native(rows(C.NATIVE_PROGRAM, C.NATIVE_DECLS, parsed)) == C.expect_native(dirty)
    assert _agg_native(rows(C.NATIVE_PROGRAM, C.NATIVE_DECLS, clean)) == C.expect_native(clean)


@pytest.mark.skipif(shutil.which("jq") is None, reason="jq binary not installed")
def test_native_expectation_matches_jq_binary():
    """jq 1.6 as a second oracle: it keeps the last duplicate key and
    rejects raw control characters, the rule the native tier follows."""
    docs = C.make_docs(13, 600, dirty=True)
    ok = [d for d in docs if d.text is not None and d.kind not in C.CORRUPT_NATIVE]
    out = subprocess.run(["jq", "-c", C.NATIVE_PROGRAM], input="\n".join(d.text for d in ok),
                         capture_output=True, text=True, check=True).stdout
    rows = [(r["sku"], r["qty"], r["price"]) for r in map(json.loads, out.splitlines())]
    assert _agg_native(rows) == C.expect_native(docs)
    ctrl = next(d for d in docs if d.kind == "ctrl")
    assert subprocess.run(["jq", "-c", "."], input=ctrl.text, capture_output=True,
                          text=True).returncode != 0


def test_etl_programs_tiers():
    assert compile_native(C.NATIVE_PROGRAM, C.NATIVE_DECLS) is not None
    assert compile_native(C.PYTHON_PROGRAM, C.PYTHON_DECLS) is None
    assert compile_native(C.DIRTY_PROGRAM, C.DIRTY_DECLS) is None


@pytest.mark.parametrize("t", C.TEMPLATES, ids=lambda t: t.name)
def test_template_meaning_and_tier(t):
    docs = C.make_docs(21, 300)
    r = random.Random(t.name)
    for _ in range(3):
        lit = t.lit(r)
        program = t.text % lit
        assert (compile_native(program, C.ADHOC_DECLS) is not None) == t.native
        got = sorted(row for d in docs for row in run_jq(program, d.text, *C.ADHOC_DECLS))
        assert got == sorted(t.rows(docs, lit))


def test_half_the_templates_compile_natively():
    assert sum(t.native for t in C.TEMPLATES) * 2 == len(C.TEMPLATES)


def test_tail_rule():
    assert tail([3.0, 1.0, 2.0]) == (3.0, "max")
    xs = list(range(1, 101))
    assert tail(xs) == (90, "p90")  # ten samples (91..100) beyond it
    assert tail(list(range(1, 21))) == (10, "p50")
