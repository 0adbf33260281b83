from __future__ import annotations

from okapi_spark import session


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("OKAPI_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"


def test_driver_memory_sized_from_box(monkeypatch):
    monkeypatch.delenv("OKAPI_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_box_memory_mb", lambda: 16_000)
    assert session.default_driver_memory() == "6400m"
    monkeypatch.setattr(session, "_box_memory_mb", lambda: 1_000)
    assert session.default_driver_memory() == "1024m"
    monkeypatch.setattr(session, "_box_memory_mb", lambda: 1_000_000)
    assert session.default_driver_memory() == f"{48 * 1024}m"
    monkeypatch.setattr(session, "_box_memory_mb", lambda: None)
    assert session.default_driver_memory() == f"{48 * 1024}m"


def test_box_memory_reads_meminfo():
    box = session._box_memory_mb()
    assert box is None or box > 0
