"""The loopback _bulk receiver's 429 rule and counts."""

from __future__ import annotations

import urllib.error
import urllib.request

import pytest

from receiver import BulkReceiver, rejects_first_attempt


def _post(url: str, key: str, docs: list[str]) -> int:
    body = "".join('{"index":{"_type":"debug"}}\n' + d + "\n" for d in docs)
    req = urllib.request.Request(url, data=body.encode(), method="POST",
                                 headers={"X-Bulk-Key": key})
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code


@pytest.fixture()
def receiver():
    r = BulkReceiver(seed=4).start()
    try:
        yield r
    finally:
        r.stop()
    assert not r._thread.is_alive()


def test_rejects_a_seeded_five_percent_of_keys_once():
    keys = [f"0-{p}-{i}" for p in range(20) for i in range(100)]
    share = sum(rejects_first_attempt(4, k) for k in keys) / len(keys)
    assert 0.03 < share < 0.07
    assert [rejects_first_attempt(4, k) for k in keys] == [
        rejects_first_attempt(4, k) for k in keys]
    assert [rejects_first_attempt(4, k) for k in keys] != [
        rejects_first_attempt(5, k) for k in keys]


def test_counts_docs_unique_docs_posts_and_rejections(receiver):
    rejected = next(f"0-0-{i}" for i in range(1000) if rejects_first_attempt(4, f"0-0-{i}"))
    accepted = next(f"0-0-{i}" for i in range(1000)
                    if not rejects_first_attempt(4, f"0-0-{i}"))
    docs_a = ['{"message":"ok tk4z000001"}', '{"message":"ok tk4z000002"}']
    docs_b = ['{"message":"ok tk4z000003"}']
    assert _post(receiver.url, rejected, docs_a) == 429
    assert _post(receiver.url, rejected, docs_a) == 200  # the retry lands
    assert _post(receiver.url, accepted, docs_b) == 200
    assert _post(receiver.url, accepted, docs_b) == 200  # a duplicate resend
    assert receiver.counts() == {"posts": 4, "rejected": 1, "bulks": 2,
                                 "docs": 4, "unique_docs": 3}
    assert receiver.tokens() == {"tk4z000001", "tk4z000002", "tk4z000003"}
    receiver.reset()
    assert receiver.counts() == {"posts": 0, "rejected": 0, "bulks": 0,
                                 "docs": 0, "unique_docs": 0}


def test_concurrent_posts_lose_no_count(receiver):
    import sys
    import threading

    keys = [f"1-{t}-{i}" for t in range(16) for i in range(10)]
    rejected = sum(rejects_first_attempt(4, k) for k in keys)
    errors = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        def sender(t):
            try:
                for i in range(10):
                    key = f"1-{t}-{i}"
                    docs = [f'{{"message":"m tk4z{t:02x}{i:02x}"}}']
                    while _post(receiver.url, key, docs) != 200:
                        pass
            except OSError as e:
                errors.append(e)

        threads = [threading.Thread(target=sender, args=(t,)) for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in threads)
        assert not errors
    finally:
        sys.setswitchinterval(old)
    assert receiver.counts() == {"posts": len(keys) + rejected, "rejected": rejected,
                                 "bulks": len(keys), "docs": len(keys),
                                 "unique_docs": len(keys)}
