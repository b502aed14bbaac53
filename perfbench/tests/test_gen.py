"""The generator is a pure function of its seed and parameters."""

from flink_cdc_dsql_master_spark.binlog import parse_binlog
from flink_cdc_dsql_master_spark.pgoutput import decode_frames, parse_message

from perfbench import gen

PARAMS = gen.Params(n_keys=200, skew=1.1, insert=0.2, update=0.6,
                    delete=0.2, width=2, batch_rows=50, batches=4)


def _segments(seed: int) -> tuple[list[bytes], list[bytes]]:
    g = gen.ChangeGen(seed, PARAMS)
    initial, log = g.initial(), g.log()
    binlog = gen.BinlogEncoder("db", "t", PARAMS.width)
    pg = gen.PgoutputEncoder("public", "t", PARAMS.width)
    return ([binlog.events(b) for b in log],
            [pg.inserts(initial)] + [pg.events(b) for b in log])


def test_same_seed_gives_byte_identical_segments():
    assert _segments(7) == _segments(7)


def test_other_seed_gives_other_segments():
    assert _segments(7) != _segments(8)


def test_log_only_touches_live_keys():
    g = gen.ChangeGen(3, PARAMS)
    live = {row[0]: row for row in g.initial()}
    for batch in g.log(bulk=frozenset({2})):
        for e in batch:
            if e.op == "I":
                assert e.key not in live
                live[e.key] = e.after
            else:
                assert live[e.key] == e.before
                if e.op == "D":
                    del live[e.key]
                else:
                    live[e.key] = e.after


def test_bulk_segment_inserts_one_new_key_per_initial_key():
    g = gen.ChangeGen(3, PARAMS)
    initial = g.initial()
    log = g.log(bulk=frozenset({1}))
    bulk = log[1]
    assert len(bulk) == PARAMS.n_keys
    assert all(e.op == "I" and e.before is None for e in bulk)
    seen = {r[0] for r in initial} | {e.key for e in log[0]}
    assert not seen & {e.key for e in bulk}
    assert len({e.key for e in bulk}) == len(bulk)


def test_binlog_segment_decodes_to_its_events():
    g = gen.ChangeGen(5, PARAMS)
    g.initial()
    batch = g.log()[0]
    blob = gen.BinlogEncoder("db", "t", PARAMS.width).events(batch)
    rows = [e for e in parse_binlog(blob)
            if e["kind"] in ("write_rows", "update_rows", "delete_rows")]
    assert len(rows) == len(batch)
    positions = [e["log_pos"] for e in rows]
    assert positions == sorted(set(positions))
    for e, ev in zip(batch, rows):
        if e.op == "U":
            assert ev["rows"] == [(list(e.before), list(e.after))]
        else:
            assert ev["rows"] == [list(e.after if e.op == "I"
                                       else e.before)]


def test_pgoutput_segment_decodes_to_its_events():
    g = gen.ChangeGen(5, PARAMS)
    g.initial()
    batch = g.log()[0]
    frames = decode_frames(gen.PgoutputEncoder("public", "t", PARAMS.width)
                           .events(batch))
    lsns = [lsn for lsn, _ in frames]
    assert lsns == sorted(set(lsns))
    kinds = [parse_message(m)["kind"] for _, m in frames]
    assert kinds[0] == "relation"
    assert len(kinds) == len(batch) + 1
