import json

from jqbench import diff


def record(parse_us, exec_ms):
    return {"end_to_end": {"setup_s": 7.0, "docs_per_s": 9000.0, "_tail_label": "max of 3"},
            "per_layer": {"udtf.parse_us_per_doc": parse_us, "spark.exec_ms": exec_ms},
            "spans": [{"name": "query", "start": 0.0, "end": 1.0, "parent": None, "qid": "q"},
                      {"name": "exec", "start": 0.2, "end": 0.9, "parent": 0, "qid": "q"}]}


def test_the_layer_that_moved_comes_first(tmp_path, capsys):
    old, new = tmp_path / "old.json", tmp_path / "new.json"
    old.write_text(json.dumps(record(13.0, 2000.0)))
    new.write_text(json.dumps(record(6.5, 2010.0)))
    rows = diff.compare([diff.load(str(old))], [diff.load(str(new))], diff.directions())
    assert rows[0][0] == "udtf.parse_us_per_doc" and rows[0][4] == "better"
    assert {r[0]: r[4] for r in rows}["docs_per_s"] == "same"
    # self time of a span excludes its children: 1.0 - 0.7 s
    assert abs(diff.load(str(old))["span.query.self_ms"] - 300.0) < 1e-6


def test_a_metric_that_did_not_apply_is_not_compared(tmp_path):
    old, new = tmp_path / "old.json", tmp_path / "new.json"
    old.write_text(json.dumps(record(13.0, 2000.0)))
    rec = record(13.0, 2000.0)
    del rec["per_layer"]["spark.exec_ms"]  # e.g. no query of its kind ran
    new.write_text(json.dumps(rec))
    rows = diff.compare([diff.load(str(old))], [diff.load(str(new))], diff.directions())
    assert "spark.exec_ms" not in {r[0] for r in rows}
