"""Unit tests of the SQL-metric value parser (no Spark needed).

Run: python -m pytest rollbench/test_sqlmetrics.py -q
"""

import pytest

from sqlmetrics import parse_value

KIB = 1024.0
MIB = 1024.0**2


@pytest.mark.parametrize(
    "text, total, largest",
    [
        ("65,799", 65799.0, 65799.0),
        ("0", 0.0, 0.0),
        ("4.0 s", 4.0, 4.0),
        ("12 ms", 0.012, 0.012),
        ("1.5 m", 90.0, 90.0),
        ("2.00 h", 7200.0, 7200.0),
        ("158.7 KiB", 158.7 * KIB, 158.7 * KIB),
        ("0.0 B", 0.0, 0.0),
        (
            "total (min, med, max (stageId: taskId))\n"
            "14.1 s (463 ms, 2.9 s, 3.2 s (stage 57.0: task 94))",
            14.1, 3.2,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "5.1 MiB (553.7 KiB, 651.3 KiB, 767.1 KiB (stage 57.0: task 98))",
            5.1 * MIB, 767.1 * KIB,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "1,446.6 KiB (152.0 KiB, 180.8 KiB, 217.4 KiB (stage 57.0: task 98))",
            1446.6 * KIB, 217.4 * KIB,
        ),
        ("(min, med, max (stageId: taskId)):\n(1, 1, 3 (stage 5.0: task 13))", 3.0, 3.0),
    ],
)
def test_parse_value(text, total, largest):
    got_total, got_largest = parse_value(text)
    assert got_total == pytest.approx(total)
    assert got_largest == pytest.approx(largest)


@pytest.mark.parametrize("text", ["n/a", "3 parsecs", "median (x)\n1 s"])
def test_parse_value_rejects_unknown_formats(text):
    with pytest.raises(ValueError):
        parse_value(text)
