"""ETL-path unit tests mirroring the reference's 9 inline Rust tests
(SURVEY §5): parser edge cases over the JsonParsed fixture shapes from
FIXTURES.md §B, plus classification precedence (§7 risk list)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from block_data_fetcher_spark.etl.extract import (
    extract_instructions,
    extract_transactions,
    extraction_stats,
    parse_blocks,
)
from block_data_fetcher_spark.etl.parsers import (
    parse_system_transfer,
    parse_token_transfer,
)
from block_data_fetcher_spark.etl.schema import TX_JSON_SCHEMA
from block_data_fetcher_spark.etl.transform import classify_transaction

SYSTEM_ID = "11111111111111111111111111111111"
TOKEN_ID = "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"
DEX_ID = "675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8"  # Raydium
NFT_ID = "metaqbxxUerdq28cj1RbAWkYQm3ybzjb6a8bt518x1s"  # Metaplex


def _instr_df(spark, instr: dict):
    """Wrap one instruction dict in a minimal tx and parse it."""
    tx = {"signatures": ["sig"], "message": {"accountKeys": [], "instructions": [instr]}}
    df = spark.createDataFrame([(json.dumps(tx),)], "tx_raw string")
    parsed = df.select(F.from_json("tx_raw", TX_JSON_SCHEMA).alias("tx"))
    return parsed.select(F.element_at("tx.message.instructions", 1).alias("i"))


# --- system parser (reference system.rs:58-97) -----------------------------


def test_parse_system_transfer(spark):
    instr = {
        "parsed": {
            "type": "transfer",
            "info": {
                "lamports": 1000,
                "source": "FY27ZyvXPv7vpGJkE788JHEXo",
                "destination": "HFqU5x63Z2bU7gRe",
            },
        },
        "program": "system",
        "programId": SYSTEM_ID,
    }
    row = _instr_df(spark, instr).select(parse_system_transfer(F.col("i")).alias("d")).head()
    assert row.d is not None
    assert row.d.lamports == 1000
    assert row.d.source == "FY27ZyvXPv7vpGJkE788JHEXo"
    assert row.d.destination == "HFqU5x63Z2bU7gRe"


def test_parse_system_transfer_non_transfer(spark):
    instr = {
        "parsed": {"type": "advanceNonce", "info": {"nonceAccount": "Nonce111"}},
        "program": "system",
        "programId": SYSTEM_ID,
    }
    row = _instr_df(spark, instr).select(parse_system_transfer(F.col("i")).alias("d")).head()
    assert row.d is None


# --- token parser (reference token.rs:65-135) ------------------------------


def test_parse_token_transfer_string_amount(spark):
    instr = {
        "parsed": {
            "type": "transfer",
            "info": {
                "amount": "1000000",
                "source": "TokenAccount1",
                "destination": "TokenAccount2",
                "mint": "EPjFWdd5AufqSSqeM2qN1xzybapC8G4wEGGkZwyTDt1v",
                "authority": "Authority1",
            },
        },
        "program": "spl-token",
        "programId": TOKEN_ID,
    }
    row = _instr_df(spark, instr).select(parse_token_transfer(F.col("i")).alias("d")).head()
    assert row.d.amount == 1000000
    assert row.d.mint == "EPjFWdd5AufqSSqeM2qN1xzybapC8G4wEGGkZwyTDt1v"


def test_parse_token_transfer_checked_nested_amount(spark):
    instr = {
        "parsed": {
            "type": "transferChecked",
            "info": {
                "tokenAmount": {"amount": "5000", "decimals": 6},
                "source": "A1",
                "destination": "A2",
                "mint": "Mint1",
                "authority": "Auth1",
            },
        },
        "program": "spl-token",
        "programId": TOKEN_ID,
    }
    row = _instr_df(spark, instr).select(parse_token_transfer(F.col("i")).alias("d")).head()
    assert row.d.amount == 5000
    assert row.d.mint == "Mint1"


def test_parse_token_transfer_missing_mint_defaults_unknown(spark):
    instr = {
        "parsed": {
            "type": "transfer",
            "info": {"amount": "42", "source": "A1", "destination": "A2"},
        },
        "program": "spl-token",
        "programId": TOKEN_ID,
    }
    row = _instr_df(spark, instr).select(parse_token_transfer(F.col("i")).alias("d")).head()
    assert row.d.mint == "unknown"


def test_parse_token_transfer_non_transfer(spark):
    instr = {
        "parsed": {"type": "mintTo", "info": {"amount": "1", "mint": "M"}},
        "program": "spl-token",
        "programId": TOKEN_ID,
    }
    row = _instr_df(spark, instr).select(parse_token_transfer(F.col("i")).alias("d")).head()
    assert row.d is None


# --- classification precedence (reference transform.rs:82-114) -------------


@pytest.mark.parametrize(
    "ids,expected",
    [
        ([DEX_ID, TOKEN_ID, SYSTEM_ID], "dex_swap"),  # DEX beats Token+System
        ([NFT_ID, TOKEN_ID], "nft_mint"),  # NFT beats Token
        ([TOKEN_ID, SYSTEM_ID], "spl_token_transfer"),  # Token beats System
        ([SYSTEM_ID], "sol_transfer"),  # exactly one System
        ([SYSTEM_ID, "SomeUnknownProgram111"], "program_interaction"),
        (["SomeUnknownProgram111"], "unknown"),
        ([], "unknown"),
    ],
)
def test_classify_precedence(spark, ids, expected):
    df = spark.createDataFrame([(ids,)], "program_ids array<string>")
    row = df.select(classify_transaction(F.col("program_ids")).alias("t")).head()
    assert row.t == expected


# --- end-to-end extraction (reference extract.rs paths) --------------------


def _block_fixture() -> list[tuple[int, str]]:
    txs = [
        {  # SOL transfer, object accountKeys
            "signatures": ["sigA"],
            "message": {
                "accountKeys": [
                    {"pubkey": "Payer1", "signer": True},
                    {"pubkey": "Dest1"},
                    {"pubkey": SYSTEM_ID},
                ],
                "instructions": [
                    {
                        "parsed": {
                            "type": "transfer",
                            "info": {"lamports": 777, "source": "Payer1", "destination": "Dest1"},
                        },
                        "program": "system",
                        "programId": SYSTEM_ID,
                    }
                ],
            },
            "meta": {"err": None, "fee": 5000},
        },
        {  # failed tx, bare-string accountKeys, programIdIndex fallback
            "signatures": ["sigB"],
            "message": {
                "accountKeys": ["Payer2", "Other2", DEX_ID],
                "instructions": [{"programIdIndex": 2, "accounts": ["Payer2"], "data": "ab"}],
            },
            "meta": {"err": {"InstructionError": [0, "Custom"]}, "fee": 10000},
        },
    ]
    block = {
        "blockhash": "BH1",
        "parentSlot": 99,
        "blockTime": 1700000000,
        "blockHeight": 42,
        "transactions": [json.dumps(t) for t in txs],
    }
    return [(100, json.dumps(block))]


def test_parse_blocks(spark):
    raw = spark.createDataFrame(_block_fixture(), "slot long, raw string")
    b = parse_blocks(raw).head()
    assert (b.slot, b.blockhash, b.parent_slot, b.block_height, b.transaction_count) == (
        100,
        "BH1",
        99,
        42,
        2,
    )
    assert b.block_time.year == 2023


def test_extract_transactions_end_to_end(spark):
    raw = spark.createDataFrame(_block_fixture(), "slot long, raw string")
    txs = {r.signature: r for r in extract_transactions(raw).collect()}
    a, b = txs["sigA"], txs["sigB"]
    # sigA: successful SOL transfer with details
    assert a.success and a.fee == 5000 and a.transaction_type == "sol_transfer"
    assert a.signer == "Payer1" and a.num_accounts == 3 and a.num_instructions == 1
    assert (a.amount, a.token, a.from_address, a.to_address) == (777, "SOL", "Payer1", "Dest1")
    assert a.transaction_label == "sol_transfer (System Program)"
    # sigB: failed DEX tx; program id resolved via programIdIndex into
    # bare-string accountKeys
    assert not b.success and b.fee == 10000
    assert b.program_ids == [DEX_ID]
    assert b.transaction_type == "dex_swap"
    assert b.signer == "Payer2"


def test_extract_instructions(spark):
    raw = spark.createDataFrame(_block_fixture(), "slot long, raw string")
    instrs = {r.transaction_signature: r for r in extract_instructions(raw).collect()}
    assert instrs["sigA"].program_id == SYSTEM_ID
    assert instrs["sigA"].program_name == "System Program"
    assert instrs["sigA"].instruction_type == "transfer"
    assert instrs["sigB"].program_id == DEX_ID
    assert instrs["sigB"].accounts == ["Payer2"]


def test_extraction_stats(spark):
    raw = spark.createDataFrame(_block_fixture(), "slot long, raw string")
    s = extraction_stats(extract_transactions(raw)).head()
    assert s.total_transactions == 2
    assert s.successful_transactions == 1
    assert s.failed_transactions == 1
    assert s.total_fees == 15000
    assert s.success_rate == 50.0


def test_account_activity_rollup(spark):
    """The reference's declared-but-unpopulated accounts table
    (migrations/20251023000004) actually materializes here."""
    from block_data_fetcher_spark.etl.extract import account_activity

    raw = spark.createDataFrame(_block_fixture(), "slot long, raw string")
    rows = {r.address: r for r in account_activity(raw).collect()}
    # fee payers: exactly one signed appearance each
    assert rows["Payer1"].as_signer_count == 1
    assert rows["Payer2"].as_signer_count == 1
    assert rows["Dest1"].as_signer_count == 0
    assert rows["Payer1"].first_seen_slot == rows["Payer1"].last_seen_slot == 100
    for r in rows.values():
        assert r.first_seen_slot <= r.last_seen_slot
        assert 0 <= r.as_signer_count <= r.transaction_count


def test_corrupt_records_skipped_not_fatal(spark):
    """ST5 continue-on-error (reference extract.rs:63-67, 277-281):
    malformed block or tx JSON yields NULLs that are filtered — the
    pipeline proceeds, never throws."""
    import json as _json

    good_tx = {
        "signatures": ["sigOK"],
        "message": {"accountKeys": ["P"], "instructions": []},
        "meta": {"err": None, "fee": 1},
    }
    block_with_bad_tx = {
        "blockhash": "BH_OK",
        "parentSlot": 1,
        "blockTime": 1700000000,
        "blockHeight": 2,
        "transactions": [_json.dumps(good_tx), "{not json", '{"no_signature": true}'],
    }
    rows = [
        (1, _json.dumps(block_with_bad_tx)),
        (2, "totally not a block"),
        (3, '{"parentSlot": 9}'),  # parseable but no blockhash
    ]
    raw = spark.createDataFrame(rows, "slot long, raw string")

    blocks = parse_blocks(raw).collect()
    assert [b.slot for b in blocks] == [1]  # corrupt + hashless dropped

    txs = extract_transactions(raw).collect()
    assert [t.signature for t in txs] == ["sigOK"]
    assert txs[0].success and txs[0].fee == 1
