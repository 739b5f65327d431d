"""Registry order: the driver's correctness gate checks the first 50
entries, so ``load_all()`` must start with the explicit
``DRIVER_WINDOW`` and list every other query by query number."""

from harmony_spark.registry import DRIVER_WINDOW, load_all


def _number(name: str) -> int:
    return int(name[1:].split("_", 1)[0])


def test_load_all_starts_with_driver_window_then_ascends():
    names = list(load_all())
    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50
    assert set(DRIVER_WINDOW) <= set(names)
    assert tuple(names[:50]) == DRIVER_WINDOW
    rest = names[50:]
    assert all(n.startswith("q") for n in rest)
    nums = [_number(n) for n in rest]
    assert len(set(nums)) == len(nums)
    assert nums == sorted(nums)
