"""Guards for the driver-sample ordering contract (verification.py):
the driver verifies only the FIRST 50 queries() entries per round, so
ordering mistakes silently cost verification coverage."""

from __future__ import annotations

from travel_data_pipeline_spark import registry, verification


def test_priority_head_names_all_registered():
    """A typo'd PRIORITY_HEAD name is silently skipped by
    ordered_names — fail loudly instead."""
    missing = [n for n in verification.PRIORITY_HEAD
               if n not in registry.QUERIES]
    assert not missing, f"PRIORITY_HEAD names not in registry: {missing}"


def test_green_names_all_registered():
    stale = sorted(verification.GREEN - set(registry.QUERIES))
    assert not stale, f"GREEN contains unregistered names: {stale}"


def test_ordered_names_is_permutation():
    names = list(registry.QUERIES)
    ordered = verification.ordered_names(names)
    assert sorted(ordered) == sorted(names)
    assert len(set(ordered)) == len(ordered)


def test_sample_maximally_packed_with_never_green():
    """Round-4 policy, amended round 7: the driver's 50-query window
    is packed with never-green names EXCEPT for deliberate
    PRIORITY_HEAD seats (the re-proof/overflow policy VERDICT r05/r06
    mandate — green queries whose code changed, or whose seats
    overflowed the previous round's head). Outside those policy
    seats, a green query may never hold a slot while an unverified
    one waits outside; never-greens that don't fit drain next round
    via ordered_names' never-green-first tail ordering."""
    ordered = verification.ordered_names(list(registry.QUERIES))
    sample = ordered[:50]
    never_green = {n for n in registry.QUERIES
                   if n not in verification.GREEN}
    policy_green_seats = [n for n in sample
                          if n in verification.PRIORITY_HEAD
                          and n in verification.GREEN]
    packable = 50 - len(policy_green_seats)
    in_sample = [n for n in sample if n in never_green]
    assert len(in_sample) == min(packable, len(never_green)), (
        f"sample holds {len(in_sample)} unverified queries but "
        f"{min(packable, len(never_green))} fit beside the "
        f"{len(policy_green_seats)} policy seats — green slots are "
        "wasting coverage")


def test_unverified_fill_the_sample_before_green():
    """No already-green query may occupy a sample slot while an
    unverified one waits outside."""
    ordered = verification.ordered_names(list(registry.QUERIES))
    sample, rest = ordered[:50], ordered[50:]
    greens_in_sample = [n for n in sample if n in verification.GREEN]
    unverified_outside = [n for n in rest if n not in verification.GREEN]
    # greens are allowed in the sample only as deliberate re-proofs
    # (PRIORITY_HEAD members); anything else is a wasted slot
    wasted = [n for n in greens_in_sample
              if n not in verification.PRIORITY_HEAD]
    assert not (wasted and unverified_outside), (
        f"wasted sample slots {wasted} while {len(unverified_outside)} "
        "unverified queries wait outside")


def test_canonical_oracle_texts_hold_no_checkout_path():
    """tools/registry_digest.py hashes the oracle texts with the package
    root replaced by a fixed token, so two checkouts of one registry
    print the same digest: no canonical text may still embed the
    checkout's absolute path."""
    import importlib.util
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "registry_digest", repo / "tools" / "registry_digest.py")
    digest = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(digest)
    texts = digest.canonical_oracles()
    assert len(texts) == len(registry.ORACLES)
    leaks = sorted(n for n, sql in texts.items() if str(repo) in sql)
    assert not leaks, f"oracle texts embed the checkout path: {leaks}"
