import time

import pytest

from spans import Span, Tracer, _union_length


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.spans = [
        Span(0, "outer", 0.0, 1.0, None),
        Span(1, "a", 0.1, 0.3, 0),
        Span(2, "b", 0.2, 0.5, 0),  # overlaps a: union is 0.1..0.5
        Span(3, "c", 0.9, 1.2, 0),  # clipped to the parent at 1.0
    ]
    self_ms = tr.self_ms()
    assert self_ms[0] == pytest.approx(500.0)
    assert self_ms[1] == pytest.approx(200.0)
    assert _union_length([(0, 1), (2, 3), (0.5, 2.5)]) == pytest.approx(3.0)


def test_wrapper_records_parent_and_restores():
    class Box:
        @staticmethod
        def inner():
            time.sleep(0.001)

        @staticmethod
        def outer():
            Box.inner()
            return 7

    tr = Tracer()
    tr.wrap(Box, "inner", "box.inner")
    tr.wrap(Box, "outer", "box.outer")
    tr.rt = 3
    assert Box.outer() == 7
    outer, inner = tr.by_name("box.outer")[0], tr.by_name("box.inner")[0]
    assert inner.parent == outer.id and outer.parent is None
    assert inner.rt == outer.rt == 3
    tr.active = False
    Box.outer()
    assert len(tr.spans) == 2  # nothing recorded while inactive
    tr.uninstall()
    assert not hasattr(Box.outer, "__wrapped__")


def test_useful_file_ratio_on_toy_partition(tmp_path):
    """Three single-file appends of 10 records to one partition; a tail read
    from offset 15 opens all three footers and gets records from two."""
    from flux_spark.log import LogStore

    store = LogStore(None, tmp_path)  # the fast lanes never touch Spark
    store.catalog.create_topic("toy", 1)
    for b in range(3):
        store.append_rows("toy", [{"value": f"v{b}-{i}", "partition": 0} for i in range(10)])
    tr = Tracer()
    tr.install_flux()
    try:
        recs = store.read_since("toy", 0, 15)
    finally:
        tr.uninstall()
    assert [r["offset"] for r in recs] == list(range(15, 30))
    tr.count_useful_files()
    (sp,) = tr.by_name("log.read_since")
    assert sp.attrs["files_opened"] == 3
    assert sp.attrs["files_useful"] == 2
    # the catalog reads behind the tail read were recorded as its children
    assert any(c.name == "catalog.get_topic" for c in tr.children()[sp.id])
