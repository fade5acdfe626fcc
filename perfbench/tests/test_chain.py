"""Generator determinism and the spec of the rule chain (no Spark)."""

import json

import chain


def test_same_seed_same_blocks():
    a, b = chain.Chain(7), chain.Chain(7)
    for slot in range(100, 110):
        assert a.block_json(slot) == b.block_json(slot)


def test_different_seed_different_blocks():
    a, b = chain.Chain(7), chain.Chain(8)
    assert any(a.block_json(s) != b.block_json(s) for s in range(100, 105))


def test_skips_about_five_percent():
    c = chain.Chain(3)
    skipped = sum(c.is_skipped(s) for s in range(4000))
    assert 120 <= skipped <= 280
    assert all(c.block(s) is None for s in range(4000) if c.is_skipped(s))


def test_block_sizes_around_mean():
    c = chain.Chain(3, mean_tx=1200)
    sizes = [len(c.block(s)["transactions"]) for s in range(20) if not c.is_skipped(s)]
    assert all(600 <= n <= 1800 for n in sizes)
    assert 1000 <= sum(sizes) / len(sizes) <= 1400


def test_mix_covers_the_registry_shapes():
    c = chain.Chain(5, mean_tx=300)
    spec = chain.Spec()
    txs = []
    for s in range(10):
        block = c.block(s)
        spec.add_block(s, block)
        txs += block["transactions"] if block else []
    assert set(spec.by_type) == set(chain.TX_TYPES)
    text = json.dumps(txs)
    assert '"transferChecked"' in text
    assert '"pubkey"' in text
    assert any(tx["meta"]["err"] is not None for tx in txs)
    assert any(len(tx["message"]["instructions"]) > 1 for tx in txs)
    used = {p for tx in txs for p in chain.spec_program_ids(tx)}
    assert set(chain.REGISTRY) - used == set()


def test_signers_are_zipf_skewed():
    c = chain.Chain(9, mean_tx=1000)
    counts = {}
    for s in range(5):
        block = c.block(s)
        for tx in (block or {}).get("transactions", []):
            k = chain._pubkey(tx["message"]["accountKeys"][0])
            counts[k] = counts.get(k, 0) + 1
    top = sorted(counts.values(), reverse=True)
    assert top[0] > 20 * top[len(top) // 2]


def _tx(instructions, keys, err=None):
    return {"signatures": ["s"], "message": {"accountKeys": keys, "instructions": instructions},
            "meta": {"err": err, "fee": 5000}}


def test_spec_rule_chain_precedence():
    dex, nft = chain.DEXES[0], chain.METAPLEX
    cases = [
        ([chain.SYSTEM], "sol_transfer"),
        ([chain.COMPUTE], "sol_transfer"),
        ([chain.SYSTEM, chain.COMPUTE], "program_interaction"),
        ([chain.COMPUTE, chain.TOKEN], "spl_token_transfer"),
        ([nft, chain.TOKEN], "nft_mint"),
        ([dex, nft, chain.TOKEN], "dex_swap"),
        ([chain.DEFI[0]], "unknown"),
        (["Unknown111"], "unknown"),
        ([chain.DEFI[1], chain.COMPUTE], "program_interaction"),
    ]
    for pids, want in cases:
        assert chain.spec_type(pids) == want, pids


def test_spec_program_ids_by_index_and_dedup():
    keys = [{"pubkey": "payer"}, chain.COMPUTE, chain.TOKEN]
    tx = _tx([{"programIdIndex": 1}, {"programId": chain.TOKEN, "parsed": {}},
              {"programIdIndex": 2}], keys)
    assert chain.spec_program_ids(tx) == [chain.COMPUTE, chain.TOKEN]
    row = chain.expected_rows(1, {"transactions": [tx]})[0]
    assert row["signer"] == "payer"
    assert row["transaction_type"] == "spl_token_transfer"


def test_spec_merge_and_report():
    c = chain.Chain(2, mean_tx=50)
    whole, parts = chain.Spec(), chain.Spec()
    for s in range(6):
        whole.add_block(s, c.block(s))
        one = chain.Spec()
        one.add_block(s, c.block(s))
        parts.merge(one)
    assert whole.report() == parts.report()
    assert whole.by_type == parts.by_type
    r = whole.report()
    assert r["failed_transactions"] == r["total_transactions"] - r["successful_transactions"]
