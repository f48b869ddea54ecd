"""Driver-contract invariants: the registry must stay coherent no matter
how families evolve — every query oracle-paired, the rotation a clean
permutation, and the deferred/credited bookkeeping free of typos (a
misspelled name would silently change which queries the driver's
50-entry correctness window verifies)."""

import __spark_entry__ as e
from audience_manager_platform_spark import registry


# Queries whose semantics genuinely cannot be re-expressed in DuckDB SQL
# (the driver records its weaker rows-only check for these) — declared in
# the registry itself since r7, where the credit loader enforces it.
# Currently EMPTY: multimodal_phash_neardup, the one historical member,
# now pairs with a pinned-fingerprint DuckDB oracle (the fingerprints are
# byte-pinned constants under the ENV_CANARY discipline; the oracle
# re-runs the band join + hamming verify on them in SQL).
ROWS_ONLY = registry.ROWS_ONLY


def test_rows_only_set_is_empty_and_loader_rejects_strays():
    """hash_match=None earns credit ONLY for declared ROWS_ONLY names —
    an accidentally oracle-less query must not be silently credited
    (r6 advice item 1)."""
    assert registry.ROWS_ONLY == frozenset()
    row = {"rows_match": True, "schema_match": True, "hash_match": None}
    # simulate the loader's predicate on a stray rows-only row
    hm = row.get("hash_match")
    credited = row.get("rows_match") and row.get("schema_match", True) and (
        hm is True or (hm is None and "stray" in registry.ROWS_ONLY)
    )
    assert not credited


def test_every_query_has_an_oracle_and_vice_versa():
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(qs) - set(os_) == ROWS_ONLY, (
        set(qs) ^ set(os_) ^ ROWS_ONLY
    )  # symmetric difference shows the offender
    assert not set(os_) - set(qs), set(os_) - set(qs)


def test_rotation_is_a_permutation():
    qs = e.queries()
    names = list(qs)
    assert len(names) == len(set(names))
    raw = {}
    for mod in registry._modules():
        raw.update(mod.QUERIES)
    assert set(names) == set(raw)


def test_rotation_bookkeeping_names_exist():
    raw = {}
    for mod in registry._modules():
        raw.update(mod.QUERIES)
    missing_credited = set(registry._DRIVER_CREDITED) - set(raw)
    assert not missing_credited, missing_credited


def test_rotation_is_uncredited_then_credited():
    """There is no hand-kept defer list anymore (r6 advice): rotation is
    uncredited names first (registry order), then credited names by
    stalest credit first. Deferral is a position (past slot 50), not a
    list."""
    names = list(e.queries())
    seen_credited = False
    for n in names:
        if n in registry._DRIVER_CREDITED:
            seen_credited = True
        else:
            assert not seen_credited, f"uncredited {n} after a credited entry"


def test_driver_credited_derives_from_committed_correctness_files():
    """_DRIVER_CREDITED must map each green name to the LAST round that
    credited it across the committed CORRECTNESS_r*.json artifacts — the
    derivation replaced a hand-maintained frozenset, and this pins the
    semantics so a change to the loader can't silently shrink, inflate,
    or mis-date the credited set."""
    import json
    from pathlib import Path

    root = Path(registry.__file__).resolve().parents[2]
    expect: dict[str, int] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        rnd = int(path.stem.rsplit("_r", 1)[1])
        for name, row in json.loads(path.read_text()).items():
            if (
                isinstance(row, dict)
                and not row.get("err")
                and row.get("rows_match")
                and row.get("schema_match", True)
                and row.get("hash_match") in (True, None)
            ):
                expect[name] = max(expect.get(name, 0), rnd)
    assert registry._DRIVER_CREDITED == expect


def test_credited_tail_is_stalest_credit_first():
    """Standing policy since r10 (r9 verdict #1): the credited portion of
    the rotation is ordered by ascending last-credited round, ties broken
    by name — so the driver's 50-entry window always re-verifies the
    oldest evidence first, with zero hand-kept pin state."""
    names = list(e.queries())
    credited = [n for n in names if n in registry._DRIVER_CREDITED]
    keys = [(registry._DRIVER_CREDITED[n], n) for n in credited]
    assert keys == sorted(keys)


def test_uncredited_queries_fit_in_driver_window():
    """A never-credited query outside the driver's 50-entry correctness
    window ships another round without hard driver evidence. The queue
    is derived (registry.deferred_queue()); it may only be non-empty
    when there genuinely are more uncredited names than slots."""
    names = list(e.queries())
    uncredited = [n for n in names if n not in registry._DRIVER_CREDITED]
    overflow = registry.deferred_queue()
    if overflow:
        assert len(uncredited) > 50, (
            f"window has spare slots yet these queue: {overflow}"
        )


def test_new_names_lead_the_rotation():
    """A never-credited name (new wave) must enter the next driver window
    ahead of every already-credited name — simulated by injecting a fake
    entry and re-running the rotation."""
    raw = {}
    for mod in registry._modules():
        raw.update(mod.QUERIES)
    raw["zz_brand_new_query"] = lambda spark, sf: None
    rotated = list(registry._rotate(raw))
    fake_at = rotated.index("zz_brand_new_query")
    credited_at = [
        i for i, n in enumerate(rotated) if n in registry._DRIVER_CREDITED
    ]
    assert not credited_at or fake_at < min(credited_at)
    # and everything ahead of it is likewise uncredited (a real new wave)
    assert all(n not in registry._DRIVER_CREDITED for n in rotated[:fake_at])
