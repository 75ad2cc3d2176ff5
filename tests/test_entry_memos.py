"""`reset_memos()` must forget every process-lifetime memo in
`__spark_entry__`, so each `bench.py --repeat` pass re-pays the one-time
builds a fresh process would."""


def test_reset_memos_clears_every_memo(monkeypatch, tmp_path):
    import __spark_entry__ as entrymod

    names = sorted(
        n
        for n, v in vars(entrymod).items()
        if n.endswith("_MEMO") and isinstance(v, dict)
    )
    assert names
    # fresh stand-ins, so the memos other tests filled stay untouched;
    # the stream-staging memo's values are staging paths reset_memos
    # deletes, so its stand-in points into tmp_path
    stage = tmp_path / "stage"
    stage.mkdir()
    for n in names:
        value = str(stage / "input") if n == "_STREAM_STAGE_MEMO" else object()
        monkeypatch.setattr(entrymod, n, {"key": value})
    entrymod.reset_memos()
    assert [n for n in names if getattr(entrymod, n)] == []
