"""The spec classifier agrees with ``extract_transactions`` on hand-picked
transactions and on a generated block."""

import json
import os

import pytest

import chain
import harness


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    harness.pin_env(work, os.path.join(work, "sf"))
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    session, _, _ = harness.start_spark()
    yield session
    harness.stop_spark(session)


def _keys(*ks):
    return list(ks)


HAND_PICKED = [
    # single system transfer, bare-string keys
    {"signatures": ["h1"], "message": {"accountKeys": _keys("P1", "D1", chain.SYSTEM),
     "instructions": [{"programId": chain.SYSTEM, "program": "system",
                       "parsed": {"type": "transfer",
                                  "info": {"source": "P1", "destination": "D1",
                                           "lamports": 7}}}]},
     "meta": {"err": None, "fee": 5000}},
    # transferChecked by index + compute budget, pubkey-object keys, failed
    {"signatures": ["h2"], "message": {"accountKeys": [
        {"pubkey": "P2", "signer": True}, {"pubkey": chain.COMPUTE},
        {"pubkey": chain.TOKEN}],
     "instructions": [{"programIdIndex": 1, "data": "x"},
                      {"programId": chain.TOKEN, "program": "spl-token",
                       "parsed": {"type": "transferChecked",
                                  "info": {"source": "a", "destination": "b",
                                           "mint": "M", "authority": "P2",
                                           "tokenAmount": {"amount": "9", "decimals": 6}}}}]},
     "meta": {"err": {"InstructionError": [0, "x"]}, "fee": 6000}},
    # dex beats nft beats token
    {"signatures": ["h3"], "message": {"accountKeys": _keys("P3", chain.METAPLEX,
                                                            chain.DEXES[2], chain.TOKEN),
     "instructions": [{"programIdIndex": 1}, {"programIdIndex": 2},
                      {"programIdIndex": 3}]},
     "meta": {"err": None, "fee": 5000}},
    # defi + system budget -> program_interaction; defi alone -> unknown
    {"signatures": ["h4"], "message": {"accountKeys": _keys("P4", chain.DEFI[0], chain.COMPUTE),
     "instructions": [{"programIdIndex": 2}, {"programIdIndex": 1}]},
     "meta": {"err": None, "fee": 5000}},
    {"signatures": ["h5"], "message": {"accountKeys": _keys("P5", chain.DEFI[1]),
     "instructions": [{"programIdIndex": 1}]},
     "meta": {"err": None, "fee": 5000}},
]


def _program_rows(spark, blocks):
    from block_data_fetcher_spark.etl.extract import extract_transactions

    raw = spark.createDataFrame(
        [(slot, json.dumps(b)) for slot, b in blocks], "slot bigint, raw string")
    cols = ["signature", "block_slot", "transaction_index", "success", "fee",
            "transaction_type", "signer", "num_instructions"]
    return {r["signature"]: r.asDict() for r in extract_transactions(raw).select(*cols).collect()}


def test_hand_picked(spark):
    block = {"blockhash": "B", "parentSlot": 9, "blockTime": 1, "blockHeight": 1,
             "transactions": HAND_PICKED}
    got = _program_rows(spark, [(10, block)])
    want = {r["signature"]: r for r in chain.expected_rows(10, block)}
    assert got == want
    assert {r["transaction_type"] for r in want.values()} == {
        "sol_transfer", "spl_token_transfer", "dex_swap", "program_interaction", "unknown"}


def test_generated_block(spark):
    c = chain.Chain(11, mean_tx=200)
    slot = next(s for s in range(50) if not c.is_skipped(s))
    block = c.block(slot)
    got = _program_rows(spark, [(slot, block)])
    want = {r["signature"]: r for r in chain.expected_rows(slot, block)}
    assert got == want
