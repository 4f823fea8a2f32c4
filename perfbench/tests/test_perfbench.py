"""The benchmark's own checks: seeded inputs are reproducible, and
verification rejects corrupted output. Run with

    python3 -m pytest perfbench/tests -q
"""

import os

import pytest

import gen
import harness
import verify


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


SMALL = gen.Sizes(thin_pages=300, thin_files=4, neardup_texts=400,
                  neardup_head=60)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, pa_ = gen.ensure_inputs(workload, 5, str(tmp_path / "a"), SMALL)
    b, pb = gen.ensure_inputs(workload, 5, str(tmp_path / "b"), SMALL)
    c, _ = gen.ensure_inputs(workload, 6, str(tmp_path / "c"), SMALL)
    assert _files(a) == _files(b)
    assert pa_ == pb
    assert _files(a) != _files(c)


def test_inputs_are_reused_for_the_same_seed(tmp_path):
    d, props = gen.ensure_inputs("thin_commit", 1, str(tmp_path), SMALL)
    mtimes = {n: os.stat(os.path.join(d, n)).st_mtime_ns
              for n in os.listdir(d)}
    d2, props2 = gen.ensure_inputs("thin_commit", 1, str(tmp_path), SMALL)
    assert (d2, props2) == (d, props)
    assert mtimes == {n: os.stat(os.path.join(d, n)).st_mtime_ns
                      for n in os.listdir(d)}


def test_cluster_sizes_cross_the_bucket_cap():
    sizes = gen.cluster_sizes(gen.RUN.neardup_head)
    assert sizes == sorted(sizes, reverse=True) and sizes[-1] >= 2
    assert sizes[0] > gen.BUCKET_CAP > sizes[1]


# --- check_commit ------------------------------------------------------------

def _commit_case():
    urls = {f"u{i}" for i in range(8)}
    rows = [(u, i % 2, True) for i, u in enumerate(sorted(urls))]
    manifests = {0: (4, 11), 1: (4, 22)}
    sample = {"u1": {"text": "a"}, "u2": {"text": "b"}}
    return urls, manifests, dict(manifests), rows, sample, dict(sample)


def test_check_commit_accepts_correct_output():
    assert verify.check_commit(*_commit_case()) == (8, 0, [])


@pytest.mark.parametrize("corrupt", [
    lambda c: c[3].pop(),                                  # missing row
    lambda c: c[3].append(c[3][0]),                        # duplicated row
    lambda c: c[3].__setitem__(0, ("u0", 0, False)),       # parse_ok false
    lambda c: c[3].append(("zz", 0, True)),                # unexpected row
    lambda c: c[2].__setitem__(1, (4, 23)),                # checksum off
    lambda c: c[1].pop(0),                                 # uncommitted
    lambda c: c[5].__setitem__("u2", {"text": "B"}),       # bytes differ
    lambda c: c[5].pop("u1"),                              # sample missing
])
def test_check_commit_rejects_corrupted_output(corrupt):
    case = _commit_case()
    corrupt(case)
    attempted, failed, problems = verify.check_commit(*case)
    assert attempted == 8 and failed >= 1 and problems


# --- check_stream ------------------------------------------------------------

def _stream_case():
    landed = {"f0": ["a", "b"], "f1": ["c"], "f2": ["d"]}
    batches = {0: ["f0"], 1: ["f1", "f2"]}
    return landed, batches, {0, 1}, ["a", "b", "c", "d"], {"c": 1}, {"c": 1}


def test_check_stream_accepts_correct_output():
    assert verify.check_stream(*_stream_case()) == (3, 0, [])


@pytest.mark.parametrize("corrupt", [
    lambda c: (c[1].__setitem__(2, ["f0"]), c[2].add(2)),  # read twice
    lambda c: c[2].discard(1),                             # not committed
    lambda c: c[3].remove("d"),                            # row lost
    lambda c: c[3].append("a"),                            # row repeated
    lambda c: c[5].__setitem__("c", 2),                    # bytes differ
])
def test_check_stream_rejects_corrupted_output(corrupt):
    case = _stream_case()
    corrupt(case)
    attempted, failed, problems = verify.check_stream(*case)
    assert attempted == 3 and failed >= 1 and problems


# --- check_neardup -----------------------------------------------------------

_TEXTS = {0: "a b c d e f g h", 1: "a b c d e f g x", 2: "p q r s t u v w"}
_J01 = 5 / 7  # 6 shingles each, 5 shared


def _neardup_case():
    return (3, [2, 1], [(0, 1, _J01)], dict(_TEXTS),
            [(0, 8, 0, 8), (1, 8, 3, 5), (2, 8, 0, 8)], 0.7, 1)


def test_check_neardup_accepts_correct_output():
    assert verify.check_neardup(*_neardup_case()) == (3, 0, [])


@pytest.mark.parametrize("corrupt", [
    lambda c: c[1].append(1),                              # sizes != N
    lambda c: c[2].__setitem__(0, (0, 1, 0.9)),            # wrong Jaccard
    lambda c: c[2].append((0, 2, 0.0)),                    # below threshold
    lambda c: c[4].pop(),                                  # doc missing
    lambda c: c[4].__setitem__(1, (1, 8, 3, 4)),           # counts off
])
def test_check_neardup_rejects_corrupted_output(corrupt):
    case = list(_neardup_case())
    corrupt(case)
    attempted, failed, problems = verify.check_neardup(*case)
    assert attempted == 3 and failed >= 1 and problems


# --- spans -------------------------------------------------------------------

def test_self_times_subtract_child_spans(monkeypatch):
    clock = iter([0.0, 1.0, 2.0, 3.0, 4.0, 4.5, 5.0, 10.0])
    monkeypatch.setattr(harness.time, "perf_counter", lambda: next(clock))
    tr = harness.Tracer(True, "r")
    with tr.span("e2e"):
        with tr.span("write", "operators.lineage"):
            with tr.span("check", "bench"):
                pass
        with tr.span("read", "sources"):
            pass
    wall, selfs = tr.self_times("e2e")
    assert wall == 10.0
    assert selfs == {"operators.lineage": 2.0, "bench": 1.0, "sources": 0.5}
