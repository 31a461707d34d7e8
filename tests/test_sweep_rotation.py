"""Driver-window rotation invariants.

The driver records only the first ``SWEEP_CAP`` entries of ``queries()``
per round, so the sweep order in ``__spark_entry__`` is the rotation
policy. It is derived from the committed ``CORRECTNESS_rNN.json`` files:
``TOUCHED`` first, then entries no round has recorded, then the rest
oldest newest-round first (registration order breaks ties).
"""

from __future__ import annotations

import json
import os
import warnings

import __spark_entry__ as em
from skywalking_banyandb_spark import registry as reg


def _write_round(root, rnd: int, names) -> None:
    with open(os.path.join(root, f"CORRECTNESS_r{rnd:02d}.json"), "w") as fh:
        json.dump({k: {"hash_match": True} for k in names}, fh)


def _front(names, newest):
    touched = [k for k in em.TOUCHED if k in newest]
    return touched + [k for k in names if newest[k] == 0 and k not in touched]


def test_window_composition():
    names = list(reg.queries())
    newest = em.newest_rounds(names)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        order = list(em.queries())
    assert sorted(order) == sorted(names)
    front = _front(names, newest)
    assert order[:len(front)] == front
    assert all(newest[k] > 0 for k in order[len(front):])
    spilled = [x for x in w if "exceeds" in str(x.message)]
    assert bool(spilled) == (len(front) > em.SWEEP_CAP)


def test_nothing_outside_the_window_is_stale():
    """Past the front, entries run oldest newest-round first (ties in
    registration order), so no entry past the cap is staler than one
    inside it."""
    names = list(reg.queries())
    newest = em.newest_rounds(names)
    order = list(em.queries())
    pos = {k: i for i, k in enumerate(names)}
    rest = order[len(_front(names, newest)):]
    assert rest == sorted(rest, key=lambda k: (newest[k], pos[k]))
    inside = [newest[k] for k in order[:em.SWEEP_CAP] if k in rest]
    for k in order[em.SWEEP_CAP:]:
        assert not inside or newest[k] >= max(inside), k


def test_oracles_and_queries_share_the_exact_order():
    assert list(em.queries()) == list(em.oracle_sql())
    assert list(reg.queries()) == list(reg.oracle_sql())


def test_front_over_cap_warns_and_names_spill(tmp_path, monkeypatch):
    names = [f"e{i:03d}" for i in range(em.SWEEP_CAP + 5)]
    _write_round(str(tmp_path), 1, ["seen"])
    monkeypatch.setattr(em, "TOUCHED", ("e054", "e000"))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        order = em.sweep_order(names + ["seen"], root=str(tmp_path))
    assert order[:2] == ["e054", "e000"] and order[-1] == "seen"
    spill = order[em.SWEEP_CAP:-1]
    assert spill == names[em.SWEEP_CAP - 1:-1]
    msgs = [str(x.message) for x in w if "exceeds" in str(x.message)]
    assert len(msgs) == 1 and all(repr(k) in msgs[0] for k in spill)


def test_registration_order_without_correctness_files(tmp_path):
    names = list(reg.queries())
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert em.sweep_order(names, root=str(tmp_path)) == names


def test_newest_round_is_max_over_correctness_files(tmp_path):
    root = str(tmp_path)
    _write_round(root, 2, ["a", "b"])
    _write_round(root, 11, ["b", "c"])
    _write_round(root, 7, ["a", "c", "unknown"])
    assert em.newest_rounds(["a", "b", "c", "d"], root=root) == {
        "a": 7, "b": 11, "c": 11, "d": 0}
    # the committed files: each entry's newest round is the largest
    # round number among the files whose keys contain it
    recorded = {}
    for rnd, path in em._round_files(os.path.dirname(em.__file__)).items():
        with open(path) as fh:
            for k in json.load(fh):
                recorded.setdefault(k, []).append(rnd)
    newest = em.newest_rounds(reg.queries())
    for k, rnd in newest.items():
        assert rnd == max(recorded.get(k, [0])), k
