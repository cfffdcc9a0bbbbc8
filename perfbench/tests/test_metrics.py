import json
import re
from pathlib import Path

import pytest

from perfbench import metrics

NAME = re.compile(r"[A-Za-z0-9_.-]+")
ROOT = Path(__file__).resolve().parents[2]


def test_every_metric_name_is_well_formed():
    for name in [*metrics.END_TO_END, *metrics.PER_LAYER]:
        assert NAME.fullmatch(name), name
        assert len(name) <= 64, name
        assert name[0].isalnum(), name


def test_benchmark_json_lists_the_emitted_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} == (
        metrics.END_TO_END
    )
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == metrics.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_emit_requires_exactly_the_declared_metrics():
    values = {name: 1.0 for name in metrics.END_TO_END}
    out = metrics.emit(values, traced=False)
    assert list(out) == list(metrics.END_TO_END)
    assert out["op_s"] == {"value": 1.0, "unit": "s"}
    with pytest.raises(KeyError):
        metrics.emit({**values, "extra": 2.0}, traced=False)
    with pytest.raises(KeyError):
        metrics.emit(values, traced=True)
