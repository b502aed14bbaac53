"""The sequential reference model on a hand-worked change stream."""

from perfbench.gen import Event
from perfbench.model import LwwModel, table_digest

A1, A2 = (1, "a", 1.5), (1, "a2", 2.5)
B1, B2 = (2, "b", 3.0), (2, "b2", 4.0)
C1 = (3, "c", 5.0)


def test_update_then_delete_drops_the_key():
    m = LwwModel([A1, B1])
    m.apply([Event("U", 1, A1, A2), Event("D", 1, A2, None)])
    assert m.get(1) is None
    assert sorted(m.rows.values()) == [B1]


def test_delete_then_reinsert_keeps_the_new_image():
    m = LwwModel([A1, B1])
    m.apply([Event("D", 2, B1, None), Event("I", 2, None, B2)])
    assert m.get(2) == B2


def test_last_write_wins_across_batches():
    m = LwwModel([A1])
    m.apply([Event("U", 1, A1, A2), Event("I", 3, None, C1)])
    m.apply([Event("D", 3, C1, None), Event("U", 1, A2, A1)])
    assert sorted(m.rows.values()) == [A1]


def test_projection_filters_every_image_of_a_key():
    m = LwwModel([A1, B1], project=lambda r: None if r[0] == 2
                 else (r[0], r[1].upper()))
    m.apply([Event("U", 2, B1, B2), Event("U", 1, A1, A2)])
    assert sorted(m.rows.values()) == [(1, "A2")]


def test_digest_ignores_order_but_not_content():
    assert table_digest([A1, B1, C1]) == table_digest([C1, A1, B1])
    assert table_digest([A1, B1]) != table_digest([A1, B2])
    assert table_digest([A1, A1]) != table_digest([A1])
    assert table_digest([(1, 1)]) != table_digest([(1, 1.0)])
