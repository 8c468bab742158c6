"""The seeded input generator: the same seed gives byte-identical
files, and the recorded checksums describe the written tables."""

import filecmp
import json
import os

import pyarrow.parquet as pq

import gen


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
    )


def test_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for out, seed in ((a, 5), (b, 5), (c, 6)):
        gen.make_backup_lake(out, seed, 0.001, 2)
        gen.make_registry_lake(out + "_reg", seed, 0.001)
    for x, y in ((a, b), (a + "_reg", b + "_reg")):
        names = _files(x)
        assert names == _files(y)
        _, mismatch, errors = filecmp.cmpfiles(x, y, names, shallow=False)
        assert not mismatch and not errors
    assert not filecmp.cmp(f"{a}/day_001/orders.parquet", f"{c}/day_001/orders.parquet", shallow=False)


def test_checksums_match_day_files_and_ignore_row_order(tmp_path):
    out = str(tmp_path / "lake")
    gen.make_backup_lake(out, 1, 0.001, 2)
    with open(f"{out}/checksums.json") as f:
        sums = json.load(f)
    for day in ("0", "1", "2"):
        for t in gen.BACKUP_KEYS:
            tbl = pq.read_table(f"{out}/day_{int(day):03d}/{t}.parquet")
            want = sums[day][t]
            assert gen.checksum(tbl) == {"rows": want["rows"], "hash": want["hash"]}
            assert gen.checksum(tbl.take(list(range(tbl.num_rows))[::-1]))["hash"] == want["hash"]
    assert sums["1"]["orders"]["hash"] != sums["0"]["orders"]["hash"]
    assert all(sums["1"][t]["changed"] > 0 for t in gen.BACKUP_KEYS)


def test_cdc_batch_replays_the_day(tmp_path):
    out = str(tmp_path / "lake")
    gen.make_backup_lake(out, 2, 0.001, 1)
    key = gen.BACKUP_KEYS[gen.CDC_TABLE]
    before = pq.read_table(f"{out}/day_000/events.parquet").to_pandas().set_index(key)
    after = pq.read_table(f"{out}/day_001/events.parquet").to_pandas().set_index(key)
    cdc = pq.read_table(f"{out}/day_001/events_cdc.parquet").to_pandas().set_index(key)
    live = cdc[~cdc["_tombstone"]].drop(columns="_tombstone")
    replay = before.drop(index=cdc.index, errors="ignore")
    replay = replay.reindex(replay.index.union(live.index))
    replay.loc[live.index] = live
    assert replay.sort_index().equals(after.sort_index().astype(replay.dtypes))
