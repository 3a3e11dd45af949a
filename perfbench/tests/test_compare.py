import json

from perfbench import compare


def _record(tmp, name, seed, content_hash, value, n_turns=100):
    rec = {
        "workload": "replay_bulk", "seed": seed, "trace": 0,
        "fingerprint": {"content_hash": content_hash, "events": 10,
                        "params": {"n_turns": n_turns}},
        "metrics": {"ingest_ev_per_s": {"value": value, "unit": "1/s"}},
    }
    (tmp / f"replay_bulk-s{seed}-t0-{name}.json").write_text(json.dumps(rec))


def test_same_inputs_compare(tmp_path, capsys):
    base, new = tmp_path / "base", tmp_path / "new"
    base.mkdir(), new.mkdir()
    for s, v in ((1, 100.0), (2, 110.0)):
        _record(base, "a", s, f"h{s}", v)
        _record(new, "b", s, f"h{s}", v * 1.1)
    assert compare.main([str(base), str(new)]) == 0
    out = capsys.readouterr().out
    assert "ingest_ev_per_s" in out and "+10.0%" in out


def test_changed_inputs_are_refused(tmp_path, capsys):
    base, new = tmp_path / "base", tmp_path / "new"
    base.mkdir(), new.mkdir()
    _record(base, "a", 1, "h1", 100.0)
    _record(new, "b", 1, "CHANGED", 100.0)
    assert compare.main([str(base), str(new)]) == 3
    assert "refused" in capsys.readouterr().err


def test_changed_generator_parameters_are_refused(tmp_path):
    base, new = tmp_path / "base", tmp_path / "new"
    base.mkdir(), new.mkdir()
    _record(base, "a", 1, "h1", 100.0, n_turns=100)
    _record(new, "b", 2, "h2", 100.0, n_turns=200)
    assert compare.main([str(base), str(new)]) == 3
