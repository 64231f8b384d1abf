"""Tests of the benchmark's pure helpers (no Spark session).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import numpy as np
import pytest

import crawlgen
from stats import (score_pairs, tail_percentile, unique_row_id,
                   valid_metric_name)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- the tail rule --------------------------------------------------------

def test_tail_needs_more_than_ten_samples():
    assert tail_percentile(range(10)) is None
    pct, value, n = tail_percentile([5.0] + list(range(10)))
    assert (value, n) == (0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_leaves_exactly_ten_samples_beyond():
    samples = list(range(100, 0, -1))  # unsorted on purpose
    pct, value, n = tail_percentile(samples)
    assert (pct, value, n) == (90.0, 90, 100)
    assert sum(s > value for s in samples) == 10


def test_tail_beyond_is_a_parameter():
    pct, value, _ = tail_percentile(range(1, 1001), beyond=10)
    assert (pct, value) == (99.0, 990)
    assert tail_percentile(range(1, 21), beyond=19)[1] == 1


# --- metric names ---------------------------------------------------------

@pytest.mark.parametrize("name", ["setup_s", "media.wall_s", "a", "9x",
                                  "minhash.features.python_udf_s", "x" * 64])
def test_valid_names(name):
    assert valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "-x", "a b", "p50%",
                                  "a/b", "é", "x" * 65, "media.wall_s\n"])
def test_invalid_names(name):
    assert not valid_metric_name(name)


def test_benchmark_json_matches_run():
    import run
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    names = [*e2e, *layer, *(w["name"] for w in spec["workloads"])]
    assert all(valid_metric_name(n) for n in names)
    assert len(set(names)) == len(names)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", u)
               for u in [*e2e.values(), *layer.values()])


# --- the dup-free corpus --------------------------------------------------

def test_unique_ids_skip_copy_hot_and_near_caption_positions():
    from deduplicator_spark.synth import _kind

    ids = [unique_row_id(k) for k in range(5000)]
    assert ids == sorted(set(ids))
    for i in ids:
        assert i % 100 < 55 or i % 100 >= 93, i
        assert _kind(i) in ("base", "novel")
    assert ids[:3] == [0, 1, 2]
    assert ids[54:63] == [54, 93, 94, 95, 96, 97, 98, 99, 100]


def test_score_pairs():
    clusters = {"a": "a", "b": "a", "c": "c", "d": "a"}
    truth = [("a", "b", True), ("a", "c", True), ("a", "d", False),
             ("e", "f", False)]
    recall, merged, pos, neg = score_pairs(clusters, truth)
    assert (recall, merged, pos, neg) == (0.5, 1, 2, 2)


# --- the crawl generator's truth ------------------------------------------

def _canon(url: str) -> str:
    """Just enough canonicalization for the generator's URL shapes."""
    u = url.lower().replace("://www.", "://")
    u = re.sub(r";jsessionid=[^?]*", "", u)
    u = re.sub(r"&sid=[^&]*$", "", u)
    base, _, query = u.partition("?")
    return base + ("?" + "&".join(sorted(query.split("&"))) if query else "")


def _parse(line: str):
    f = line.strip().split(None, 12)
    if len(f) < 10 or len(line.strip()) <= 42:
        return None
    status = int(f[1])
    if status <= 0:
        return None
    revisit = len(f) > 11 and "Revisit:IdenticalPayloadDigest" in f[11]
    extra = json.loads(f[12]) if len(f) > 12 and f[12] != "-" else {}
    return status, f[3], f[6], f[9], revisit, extra


def _expected_truth(logs: crawlgen.CrawlLogs) -> Counter:
    """Re-derive the probe verdicts from the log text alone."""
    indexed: dict[str, set[str]] = {}
    for line in logs.index_lines:
        rec = _parse(line)
        if rec is None:
            continue
        status, url, mime, digest, revisit, extra = rec
        if status != 200 or mime.startswith("text/"):
            continue
        if revisit:
            if "RevisitRefersToURI" not in extra:
                continue
            url = extra["RevisitRefersToURI"]
        indexed.setdefault(digest, set()).add(url)
    truth: Counter = Counter()
    for line in logs.probe_lines:
        rec = _parse(line)
        if rec is None:
            continue
        status, url, _, digest, revisit, _ = rec
        if not 200 <= status <= 299 or revisit:
            continue
        urls = indexed.get(digest)
        if not urls:
            verdict = ("novel", None)
        elif url in urls:
            verdict = ("duplicate", "exact_url")
        elif _canon(url) in {_canon(u) for u in urls}:
            verdict = ("duplicate", "canonical_url")
        else:
            verdict = ("duplicate", "digest_only")
        truth[(url, digest) + verdict] += 1
    return truth


def test_hand_checked_log():
    logs = crawlgen.generate(n_pages=4, n_probe=0, seed=0)
    # four pages; with seed 0 none reuses another page's content
    assert logs.shared_digest_pages == 0
    assert [line.split()[3] for line in logs.index_lines
            if len(line.split()) >= 10] == [crawlgen.page_url(p) for p in range(4)]
    p = 1
    dig = crawlgen.digest_of(p, 0)
    assert re.fullmatch(r"sha1:[A-Z2-7]{32}", dig)
    for how in range(4):
        v = crawlgen.variant_url(p, how)
        assert v != crawlgen.page_url(p)
        assert _canon(v) == _canon(crawlgen.page_url(p))
        assert _canon(v) != _canon(crawlgen.page_url(p + 97))


@pytest.mark.parametrize("seed", [0, 1, 7])
def test_generator_truth_matches_rederived_truth(seed):
    logs = crawlgen.generate(n_pages=300, n_probe=600, seed=seed)
    expected = _expected_truth(logs)
    assert logs.truth == expected
    kinds = Counter(k[3] for k in expected.elements())
    # every verdict class is exercised
    assert set(kinds) == {None, "exact_url", "canonical_url", "digest_only"}
    assert logs.shared_digest_pages > 0


def test_generator_is_a_function_of_the_seed():
    a = crawlgen.generate(50, 50, seed=3)
    b = crawlgen.generate(50, 50, seed=3)
    c = crawlgen.generate(50, 50, seed=4)
    assert (a.index_lines, a.probe_lines, a.truth) == \
        (b.index_lines, b.probe_lines, b.truth)
    assert a.index_lines != c.index_lines


# --- stream families ------------------------------------------------------

def test_stream_family_members_within_hamming_3():
    from workloads import family_phash

    fam = np.repeat(np.arange(100), 4)
    mem = np.tile(np.arange(4), 100)
    h = family_phash(fam, mem, seed=5).view(np.uint64).reshape(100, 4)
    for row in h:
        for a in row:
            for b in row:
                assert bin(int(a ^ b)).count("1") <= 3
    assert len(set(h[:, 0].tolist())) == 100


def test_stream_ids_name_their_file():
    from workloads import StreamNeardup, _file_of

    s = StreamNeardup()
    for k in range(s.n_files):
        fam, mem = s._rows(k)
        assert len(fam) == s.families_per_file * min(k + 1, 4)
        assert {_file_of(f"f{f:07d}-m{m}") for f, m in zip(fam, mem)} == {k}
