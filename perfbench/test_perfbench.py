"""Self-tests for the benchmark's generators, oracles and trace parsing.

    python3 -m pytest perfbench -q

No Spark session: everything here is plain Python over small inputs.
"""

from __future__ import annotations

import json
from collections import deque

import pytest

from perfbench import gen, oracle
from perfbench.trace import Tracer, event_log_stats


def _diameter(nodes, pairs) -> int:
    """Longest shortest path of the graph (BFS from every node)."""
    adj = {n: set() for n in nodes}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    best = 0
    for src in nodes:
        dist = {src: 0}
        todo = deque([src])
        while todo:
            x = todo.popleft()
            for y in adj[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    todo.append(y)
        assert len(dist) == len(nodes), "graph is not connected"
        best = max(best, max(dist.values()))
    return best


# ------------------------------------------------------------ generators


@pytest.mark.parametrize("make", [
    lambda s: gen.mixed_dups(s, 64),
    lambda s: gen.long_captions(s, 40),
    lambda s: gen.dup_chains(s, 3, 6),
])
def test_generators_are_seeded(make):
    a, ga = make(5)
    b, gb = make(5)
    c, _ = make(6)
    assert a.equals(b) and ga == gb
    assert not a.equals(c)
    assert {"image_id", "caption", "phash"} <= set(a.columns)
    assert a["image_id"].is_unique
    assert len(ga) == len(a)


def test_chain_links_only_neighbours_and_diameter_is_length_minus_one():
    n_chains, length = 4, 9
    df, groups = gen.dup_chains(3, n_chains, length)
    ids, caps = df["image_id"].tolist(), df["caption"].tolist()
    sh = [oracle.shingles(c) for c in caps]
    for c in range(n_chains):
        rows = [i for i, g in enumerate(groups) if g == c]
        for j in range(length - 1):
            assert oracle.jaccard(sh[rows[j]], sh[rows[j + 1]]) >= oracle.THRESHOLD
        for j in range(length - 2):
            assert oracle.jaccard(sh[rows[j]], sh[rows[j + 2]]) < oracle.THRESHOLD
    pairs = oracle.rule_pairs(ids, caps, groups, df["phash"].tolist())
    assert len(pairs) == n_chains * (length - 1)
    comp = oracle.components(pairs)
    assert len(set(comp.values())) == n_chains
    for c in range(n_chains):
        chain = [ids[i] for i, g in enumerate(groups) if g == c]
        assert _diameter(chain, [p for p in pairs if p[0] in chain]) == length - 1


def test_long_captions_are_long_letter_words_linked_only_in_blocks():
    df, groups = gen.long_captions(2, 64)
    words = [len(c.split()) for c in df["caption"]]
    assert min(words) >= 200 and max(words) <= 500
    assert all(c.replace(" ", "").isalpha() and c.islower() for c in df["caption"])
    pairs = oracle.rule_pairs(df["image_id"].tolist(), df["caption"].tolist(), groups,
                              df["phash"].tolist())
    assert pairs
    # captions of different groups share next to no 5-grams
    heads = [oracle.shingles(c) for c in df.groupby(groups)["caption"].first()]
    assert max(oracle.jaccard(a, b) for a in heads for b in heads if a is not b) < 0.2


def test_mixed_dups_oracle_finds_planted_pairs():
    df, groups = gen.mixed_dups(1, 400)
    pairs = oracle.rule_pairs(df["image_id"].tolist(), df["caption"].tolist(), groups,
                              df["phash"].tolist())
    assert pairs
    block = dict(zip(df["image_id"], groups))
    assert all(block[a] == block[b] for a, b in pairs)


# ---------------------------------------------------------------- oracle


def test_shingles_and_jaccard():
    assert oracle.shingles("abcdef") == {"abcde", "bcdef"}
    assert oracle.shingles("abc") == {"abc"}
    assert oracle.jaccard(frozenset("ab"), frozenset("bc")) == pytest.approx(1 / 3)
    assert oracle.jaccard(frozenset(), frozenset()) == 1.0


def test_hamming_is_64_bit():
    assert oracle.hamming(0, 0b1011) == 3
    assert oracle.hamming(-1, 0) == 64


def test_rule_pairs_caption_and_phash_channels():
    ids = ["a", "b", "c", "d"]
    caps = ["the quick brown fox", "the quick brown fox!", "zzzzzzzzzz", "yyyyyyyyyy"]
    groups = [0, 0, 0, 1]
    ph = [0, 0b1111 << 40, 0b111, 0]
    # a-b by caption (15/16), a-c by pHash (3 bits), b-c by neither (7 bits,
    # no shared gram); d matches a's pHash but is alone in its group
    assert oracle.rule_pairs(ids, caps, groups, ph) == {("a", "b"), ("a", "c")}
    assert oracle.rule_pairs(ids, caps, groups, None) == {("a", "b")}


def test_components_union_find():
    comp = oracle.components([("b", "c"), ("a", "b"), ("x", "y")])
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_pair_recall_counts_co_clustered_pairs():
    truth = {("a", "b"), ("b", "c"), ("d", "e"), ("f", "g")}
    clusters = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "x", "f": "f", "g": "f"}
    assert oracle.pair_recall(truth, clusters) == 3 / 4
    # rows missing from the assignment are singletons
    assert oracle.pair_recall({("p", "q")}, {}) == 0.0
    assert oracle.pair_recall(set(), clusters) == 1.0


def test_emitted_recall_needs_the_pair_itself():
    truth = {("a", "b"), ("b", "c"), ("a", "c")}
    assert oracle.emitted_recall(truth, {("b", "a"), ("b", "c")}) == 2 / 3
    assert oracle.emitted_recall(set(), set()) == 1.0


def test_pair_precision_accepts_transitive_pairs_only():
    truth = {("a", "b"), ("b", "c")}
    # a-c is implied by transitivity; a-d and d-e are not linked
    reported = {("c", "a"), ("a", "b"), ("a", "d"), ("d", "e")}
    assert oracle.pair_precision(reported, truth) == 2 / 4
    assert oracle.pair_precision(set(), truth) == 1.0


# ----------------------------------------------------------------- trace


class _FakeSc:
    def __init__(self):
        self.group = None

    def setJobGroup(self, group, _desc):
        self.group = group

    def setLocalProperty(self, _key, value):
        self.group = value


def test_spans_nest_and_restore_the_job_group(tmp_path):
    sc = _FakeSc()
    tr = Tracer(sc, "r1")
    with tr.span("root"):
        with tr.span("child") as sp:
            assert sc.group == "child"
            sp.counts = {"rows": 3}
        assert sc.group == "root"
    assert sc.group is None
    assert tr.get("child").parent == "root" and tr.get("root").parent is None
    assert 0 < tr.coverage("root") <= 1
    out = tmp_path / "t.jsonl"
    tr.write(str(out))
    rows = [json.loads(line) for line in out.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["child", "root"]
    assert rows[0]["run_id"] == "r1" and rows[0]["counts"] == {"rows": 3}


def test_event_log_stats_attributes_stages_to_job_groups(tmp_path):
    def task(stage, ms, run_ms, shuffle):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 0, "Finish Time": ms},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "verify"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        task(0, 100, 100, 2**20), task(0, 300, 300, 2**20),
        task(1, 100, 50, 0), task(1, 100, 50, 0), task(1, 400, 50, 0),
        task(2, 100, 100, 0),
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    stats = event_log_stats(str(tmp_path))
    v = stats["verify"]
    assert v.jobs == 1
    assert v.task_run_s == pytest.approx(0.55)
    assert v.shuffle_mb == pytest.approx(2.0)
    # heaviest stage is 0 (0.4 s of task time): max 0.3 / median 0.2
    assert v.task_skew == pytest.approx(1.5)
    assert stats[""].jobs == 1
