import gen


def test_tail_batches_seeded():
    sizes = [10, 10, 2500, 10]
    a = gen.tail_batches(5, sizes)
    assert a == gen.tail_batches(5, sizes)
    assert a != gen.tail_batches(6, sizes)
    assert [len(b) for b in a] == sizes
    values = [v for b in a for _k, v in b]
    assert len(set(values)) == len(values)  # delivery is checked by value


def test_tail_keys_are_skewed():
    (batch,) = gen.tail_batches(1, [5000])
    counts = {}
    for key, _v in batch:
        counts[key] = counts.get(key, 0) + 1
    top = max(counts.values())
    assert top > 5 * len(batch) / gen.TAIL_KEYS  # a hot key well above uniform

