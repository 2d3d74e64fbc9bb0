"""The seed fully determines a run's inputs, and reaches the engine only
as generated data."""

import hashlib
import os

import datagen
import workloads

SEED = 987_654_321


def _file_digests(paths: dict[str, str]) -> dict[str, str]:
    out = {}
    for name, path in paths.items():
        with open(path, "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = datagen.write_tables(datagen.spatial_sql_tables(7),
                             str(tmp_path / "a"))
    b = datagen.write_tables(datagen.spatial_sql_tables(7),
                             str(tmp_path / "b"))
    assert _file_digests(a) == _file_digests(b)
    assert datagen.spatial_sql_params(7) == datagen.spatial_sql_params(7)
    assert datagen.mix_order(7, list("abcdef"), 3) == \
        datagen.mix_order(7, list("abcdef"), 3)
    for it in (0, 1):
        fa, fb = datagen.fresh_tables(7, it), datagen.fresh_tables(7, it)
        assert datagen.digest(fa, datagen.fresh_window(7, it)) == \
            datagen.digest(fb, datagen.fresh_window(7, it))
        pa_ = datagen.write_tables(fa, str(tmp_path / f"fa{it}"))
        pb_ = datagen.write_tables(fb, str(tmp_path / f"fb{it}"))
        assert _file_digests(pa_) == _file_digests(pb_)


def test_other_seed_gives_other_inputs():
    assert datagen.digest(datagen.spatial_sql_tables(7),
                          datagen.spatial_sql_params(7)) != \
        datagen.digest(datagen.spatial_sql_tables(8),
                       datagen.spatial_sql_params(8))
    assert datagen.spatial_sql_params(7) != datagen.spatial_sql_params(8)
    assert datagen.digest(datagen.fresh_tables(7, 0)) != \
        datagen.digest(datagen.fresh_tables(8, 0))
    # a fresh_ingest cycle never repeats an earlier cycle's data
    assert datagen.digest(datagen.fresh_tables(7, 0)) != \
        datagen.digest(datagen.fresh_tables(7, 1))


def test_planted_duplicates_exist():
    texts = datagen.fresh_tables(7, 0)["documents"]["text"].to_pylist()
    assert len(set(texts)) < len(texts)


class _Recorder:
    """Stands in for the session and the operator modules: accepts any
    call and remembers every argument it was given."""

    def __init__(self, seen):
        self._seen = seen

    def __getattr__(self, name):
        return self

    def __call__(self, *args, **kwargs):
        self._seen.extend(args)
        self._seen.extend(kwargs.values())
        return self

    def __iter__(self):  # read_geoparquet returns (df, metadata)
        return iter((self, self))


def test_seed_reaches_engine_only_as_data(tmp_path, monkeypatch):
    seen: list = []
    rec = _Recorder(seen)
    for mod in ("_sj", "_knn", "_dedup", "_gp", "_rw"):
        monkeypatch.setattr(workloads, mod, rec)
    for cls in workloads.WORKLOADS.values():
        wl = cls(rec, SEED, str(tmp_path))
        wl.prep()
        ops = wl.warmup() + wl.schedule(0) + wl.schedule(1)
        for op in ops:
            op.build()
    assert seen, "the recorder saw no engine calls"
    for arg in seen:
        assert arg != SEED
        assert str(SEED) not in str(arg)
    written = [f for _, _, fs in os.walk(tmp_path) for f in fs]
    assert written and not any(str(SEED) in f for f in written)
