"""Host-epoch identification for performance artifacts.

Round-8 post-mortem: the host rebooted mid-round and every JVM-heavy wall
shifted +20-35% on byte-identical code+data while Arrow-kernel walls held
— the microarchitectural state of the host (governor, mitigations, THP,
frequency table) is part of the measurement, so ABSOLUTE wall-clock
numbers are only comparable within one boot ("host epoch"). The round-8
adjudication of that shift was evidenced but unfalsifiable, because no
artifact recorded which epoch a number came from.

This module makes the epoch rule machine-checkable: every BENCH/SCALING
artifact embeds :func:`host_epoch`, and ``scale_check.py`` refuses to
compute absolute ratios against a baseline stamped with a different epoch
(ratios of SHUFFLE BYTES and row counts are epoch-invariant and stay
comparable regardless).
"""

from __future__ import annotations

import hashlib
import os


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return ""


def host_epoch() -> dict:
    """Identity of the current host epoch.

    ``boot_id`` is the kernel's per-boot UUID (changes on every reboot —
    the signal that separated round-8's two measurement regimes);
    ``cpu_model`` pins the hardware/microcode the numbers were taken on;
    ``epoch_id`` is the short stable hash artifacts carry and gates
    compare.
    """
    boot_id = _read("/proc/sys/kernel/random/boot_id")
    cpu_model = ""
    for line in _read("/proc/cpuinfo").splitlines():
        if line.startswith("model name"):
            cpu_model = line.split(":", 1)[1].strip()
            break
    raw = f"{boot_id}|{cpu_model}|{os.cpu_count()}"
    return {
        "epoch_id": hashlib.sha256(raw.encode()).hexdigest()[:12],
        "boot_id": boot_id,
        "cpu_model": cpu_model,
        "ncpu": os.cpu_count(),
    }


def same_epoch(a: dict | None, b: dict | None) -> bool:
    """True when two artifacts' epoch stamps identify the same boot.
    Artifacts written before epoch stamping existed (no ``epoch`` key)
    compare as UNKNOWN -> False, which is the safe direction: absolute
    comparisons against unstamped baselines need a rerun, not trust."""
    if not a or not b:
        return False
    return a.get("epoch_id") == b.get("epoch_id")
