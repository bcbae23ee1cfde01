"""The streaming refresh's checkpoint identity
(streaming/rollup_stream._checkpoint_key): it scopes each micro-batch's
fingerprint in the manifest's double-apply guard. The stream itself is
tested against refresh_job in tests/test_refresh_job.py."""


def test_checkpoint_key_is_cwd_independent_for_uris(tmp_path, monkeypatch):
    """URI checkpoint locations must key identically from any driver cwd
    (containers restart with different working directories); bare local
    paths still absolutize, and trailing slashes don't split identities."""
    from preprocessor_spark.streaming.rollup_stream import _checkpoint_key

    k1 = _checkpoint_key("hdfs://nn:8020/ck/run1")
    monkeypatch.chdir(tmp_path)
    assert _checkpoint_key("hdfs://nn:8020/ck/run1") == k1
    assert _checkpoint_key("hdfs://nn:8020/ck/run1/") == k1
    assert _checkpoint_key("hdfs://nn:8020/ck/run2") != k1
    assert _checkpoint_key("relative/ck") == _checkpoint_key(
        str(tmp_path / "relative" / "ck")
    )
