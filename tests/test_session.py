"""Session-conf seam: `apply_engine_confs` is one-shot per application
only once every engine conf has actually been set."""

from __future__ import annotations

from types import SimpleNamespace

from social_media_data_pipeline_recession_political_sentiment_spark import session as sess


class _FlakyConf:
    """A session conf whose first `set` raises; records every set."""

    def __init__(self):
        self.sets = []
        self.failed = False

    def set(self, k, v):
        if not self.failed:
            self.failed = True
            raise RuntimeError("cannot modify the value of a static config")
        self.sets.append((k, v))


def test_apply_engine_confs_retries_after_a_failed_set(monkeypatch):
    monkeypatch.setattr(sess, "_CONFS_APPLIED", set())
    conf = _FlakyConf()
    fake = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="app-flaky-conf"), conf=conf
    )
    n = len(sess.ENGINE_CONFS)

    sess.apply_engine_confs(fake)  # first set raises: app not recorded
    assert len(conf.sets) == n - 1
    assert "app-flaky-conf" not in sess._CONFS_APPLIED

    sess.apply_engine_confs(fake)  # every conf is set again
    assert conf.sets[n - 1:] == list(sess.ENGINE_CONFS.items())
    assert "app-flaky-conf" in sess._CONFS_APPLIED

    sess.apply_engine_confs(fake)  # now one-shot: no further sets
    assert len(conf.sets) == 2 * n - 1
