"""Self time: a span's duration minus the union of its children."""

from __future__ import annotations

import pytest

from spans import Span, self_time_by_layer, self_times


def _tree():
    # run [0, 10]
    #   convert [1, 7]
    #     job A [2, 4]   stages [2, 3] and [2.5, 4] overlap
    #     job B [3, 5]   overlaps job A
    #     job C [6.5, 8] sticks out of convert
    #   register [7, 9]  no children
    return [
        Span("run", 0.0, 10.0, None, 1),
        Span("convert", 1.0, 7.0, 1, 2),
        Span("convert/job", 2.0, 4.0, 2, 3),
        Span("convert/stage", 2.0, 3.0, 3, 4),
        Span("convert/stage", 2.5, 4.0, 3, 5),
        Span("convert/job", 3.0, 5.0, 2, 6),
        Span("convert/job", 6.5, 8.0, 2, 7),
        Span("register", 7.0, 9.0, 1, 8),
    ]


def test_self_time_subtracts_union_of_children():
    st = self_times(_tree())
    assert st[1] == pytest.approx(10.0 - (7.0 - 1.0) - (9.0 - 7.0))
    # jobs cover [2, 5] and [6.5, 7] inside convert
    assert st[2] == pytest.approx(6.0 - 3.0 - 0.5)
    assert st[3] == pytest.approx(0.0)  # its stages cover all of job A
    assert st[6] == pytest.approx(2.0)
    assert st[8] == pytest.approx(2.0)


def test_self_time_by_layer_adds_up_to_the_root():
    spans = _tree()
    by_layer = self_time_by_layer(spans)
    assert set(by_layer) == {"run", "convert", "convert/job", "convert/stage", "register"}
    # nothing in the tree sticks out of the root except job C's last second,
    # which the root counts once through convert and job C counts again
    assert by_layer["convert/stage"] == pytest.approx(1.0 + 1.5)
    assert by_layer["run"] + by_layer["convert"] + by_layer["register"] == pytest.approx(2.0 + 2.5 + 2.0)


def test_leaf_self_time_is_its_duration():
    st = self_times([Span("x", 5.0, 5.25, None, 1)])
    assert st[1] == pytest.approx(0.25)
