"""The benchmark's own tests: its inputs are a pure function of the seed.

    python3 -m pytest roundbench/test_inputs.py -q
"""

from __future__ import annotations

import pytest

from roundbench.workloads import SPECS, Generator, input_traffic

# another seed moves each input share by at most this much (absolute): with
# 2,500+ draws per share, 0.03 is over four standard deviations
TOLERANCE = 0.03


@pytest.mark.parametrize("name", sorted(SPECS))
def test_same_seed_writes_byte_identical_inputs(name, tmp_path):
    Generator(SPECS[name], 11).write(tmp_path / "a")
    Generator(SPECS[name], 11).write(tmp_path / "b")
    files = sorted(p.name for p in (tmp_path / "a").iterdir())
    assert files == sorted(p.name for p in (tmp_path / "b").iterdir())
    for f in files:
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes(), f


@pytest.mark.parametrize("name", sorted(SPECS))
def test_other_seed_changes_inputs_but_not_their_traffic(name):
    a, b = Generator(SPECS[name], 11), Generator(SPECS[name], 12)
    assert a.urls != b.urls
    ta, tb = input_traffic(a), input_traffic(b)
    for key in ta:
        assert abs(ta[key] - tb[key]) <= TOLERANCE, (key, ta[key], tb[key])


def test_traffic_matches_the_workload_design():
    fwd = input_traffic(Generator(SPECS["forward_crawl"], 11))
    assert 0.07 <= fwd["hot_host_share"] <= 0.13
    assert 0.45 <= fwd["unseen_link_share"] <= 0.55
    assert 0.03 <= fwd["missing_doc_share"] <= 0.07
    assert fwd["blocked_link_share"] == 0
    pol = input_traffic(Generator(SPECS["polite_recrawl"], 11))
    assert pol["unseen_link_share"] <= 0.08
    assert 0.05 <= pol["blocked_link_share"] <= 0.15
