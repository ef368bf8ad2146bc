"""Checks of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""
from perfbench import gen, trace, workloads


def _inputs(seed):
    docs = gen.documents(seed, 200)
    hostile = gen.hostile_pages(seed, big_size=20000)
    rows = [
        workloads.row_key(str(d), 0, lang, text)
        for d, text, lang in zip(docs.doc_id, docs.text, docs.lang)
    ] + [workloads.row_key(c, t, html, exp) for c, t, html, exp in hostile]
    crashes = [gen.crash_group(seed, 3, unit) for unit in range(4)]
    return docs, hostile, crashes, workloads.digest_of(rows)


def test_same_seed_same_inputs_and_digest():
    a, b = _inputs(7), _inputs(7)
    assert a[0].equals(b[0])
    assert a[1:] == b[1:]


def test_other_seed_moves_hostile_pages():
    keys = lambda seed: [(c, t) for c, t, _, _ in gen.hostile_pages(seed, big_size=20000)]
    assert keys(7) != keys(8)
    assert _inputs(7)[3] != _inputs(8)[3]


def test_crash_positions_alternate():
    for seed in range(5):
        crashes = [gen.crash_group(seed, 3, unit) for unit in range(1, 5)]
        assert sorted(crashes) == [1, 1, 2, 2]


def test_hostile_expected_text_is_the_paragraphs():
    for conv, turn, html, expected in gen.hostile_pages(3, big_size=20000):
        assert conv.startswith("conv-hostile-") and 0 <= turn < 4
        assert expected.startswith(gen.PARA_LEAD)
        assert expected.split("\n\n")[0] in html


def test_self_time_on_a_hand_built_span_tree():
    # root 0..100 with children 10..40 and 30..60 (overlapping: cover
    # 10..60 once) and 90..120 (clipped to 90..100); grandchild 15..25
    spans = [
        ("r", None, "t", "kernel.article", 0, 100),
        ("a", "r", "t", "kernel.cleaner", 10, 40),
        ("b", "r", "t", "kernel.scorer", 30, 60),
        ("c", "r", "t", "dom.parse", 90, 120),
        ("g", "a", "t", "dom.parse", 15, 25),
    ]
    st = trace.self_times(spans)
    assert st == {"r": 100 - 50 - 10, "a": 30 - 10, "b": 30, "c": 30, "g": 10}
    layers = {k: round(v * 1e9) for k, v in trace.layer_self_seconds(spans).items()}
    assert layers == {"kernel.article": 40, "kernel.cleaner": 20,
                      "kernel.scorer": 30, "dom.parse": 40}


def test_digest_keeps_identical_rows():
    # an XOR fold would cancel the pair; count + sum does not
    one, two = workloads.digest_of(["x"]), workloads.digest_of(["x", "x"])
    assert two == (2, 2 * one[1])
    assert workloads.digest_of(["x", "x", "y"]) != workloads.digest_of(["y"])


def test_rows_of_compares_exactly():
    a = workloads.rows_of(["b", "a"], [(1.0000001, "x"), (2.0, None)])
    b = workloads.rows_of(["a", "b"], [(None, 2.0), ("x", 1.0000001)])
    c = workloads.rows_of(["a", "b"], [(None, 2.0), ("x", 1.0000002)])
    assert a == b and a != c


def test_parse_total():
    from perfbench.sparkstats import parse_total

    fmt = "total (min, med, max (stageId: taskId))\n{} (1 ms, 2 ms, 3 ms (stage 1.0: task 2))"
    assert parse_total(fmt.format("10.3 s")) == 10.3
    assert parse_total(fmt.format("221 ms")) == 0.221
    assert parse_total(fmt.format("17.6 MiB")) == 17.6 * 2**20
