"""Session defaults (session.py)."""

from tecs_hardware_kbc_spark import session


def test_default_heap_fits_the_host(monkeypatch):
    monkeypatch.setattr(session, "_memory_bytes", lambda: 16 << 30)
    assert session._default_heap() == "9011m"  # 55% of 16 GiB
    monkeypatch.setattr(session, "_memory_bytes", lambda: 256 << 30)
    assert session._default_heap() == "49152m"  # the 48g cap


def test_memory_bytes_is_positive_and_at_most_physical():
    import os

    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < session._memory_bytes() <= physical
