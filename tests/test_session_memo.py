"""session_memo: the one per-session LRU behind every session memo."""

from types import SimpleNamespace

from iceberg_rust_spark.session import SESSION_MEMO_CAP, session_memo


def test_session_memo_is_bounded_lru():
    spark = SimpleNamespace()           # any object a memo can hang on
    memo = session_memo(spark, "m")
    assert session_memo(spark, "m") is memo
    assert session_memo(spark, "other") is not memo
    for k in range(SESSION_MEMO_CAP):
        memo.put(k, str(k))
    assert memo.get(0) == "0"           # refreshes key 0: key 1 is oldest
    memo.put(SESSION_MEMO_CAP, "new")
    assert len(memo) == SESSION_MEMO_CAP
    assert 1 not in memo and memo.get(1) is None
    assert memo.get(0) == "0" and memo.get(SESSION_MEMO_CAP) == "new"
    for k in range(SESSION_MEMO_CAP + 1, 3 * SESSION_MEMO_CAP):
        memo.put(k, k)
    assert len(memo) == SESSION_MEMO_CAP
    assert min(memo) == 2 * SESSION_MEMO_CAP
