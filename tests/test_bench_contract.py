"""The bench's last JSON line: bounded for tail capture, core never shed."""

from __future__ import annotations

import json

from bench import contract_line


def _out(errors=None):
    out = {
        "metric": "headline_total",
        "value": 2.5,
        "unit": "sec",
        "queries": {f"q{i:02d}": 0.1 for i in range(11)},
        "master": "local[4]",
        "shuffle_partitions": 4,
    }
    if errors is not None:
        out["error_queries"] = errors
    out["detail_file"] = "docs/BENCH_DETAIL.json"
    return out


def test_line_that_fits_is_printed_as_built():
    out = _out()
    assert contract_line(dict(out)) == json.dumps(out)
    out = _out(["q14_multiway_join"])
    assert contract_line(dict(out)) == json.dumps(out)


def test_error_names_are_shed_last_and_only_in_part():
    names = [f"entry_{i:03d}_with_a_long_descriptive_name" for i in range(80)]
    line = contract_line(_out(names))
    got = json.loads(line)
    assert len(line) <= 1900
    # master and detail_file go first; the core stays whole
    assert "master" not in got and "detail_file" not in got
    assert got["value"] == 2.5 and len(got["queries"]) == 11
    # the failing names keep a prefix plus the count of the rest
    kept, rest = got["error_queries"][:-1], got["error_queries"][-1]
    assert kept == names[: len(kept)] and kept
    assert rest == f"+{len(names) - len(kept)} more"


def test_shedding_master_alone_keeps_every_error_name():
    names = ["q14_multiway_join", "s01_cosine_topk"]
    out = _out(names)
    limit = len(json.dumps(out)) - 1
    got = json.loads(contract_line(dict(out), limit=limit))
    assert "master" not in got
    assert got["detail_file"] == "docs/BENCH_DETAIL.json"
    assert got["error_queries"] == names
