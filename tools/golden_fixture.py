#!/usr/bin/env python3
"""Write the compact reference-shaped golden fixture (rewards.csv,
transactions.csv) and derive GoldenPipelineSpec's counts from the written
files with DuckDB, independently of Spark.

The rows follow the column profile in FIXTURES.md §A1-A2 and keep every
edge the spec relies on: python-dict-literal payloads (3-level
`fiat_transaction`, `'settled': True` booleans, `None` values) whose values
hold apostrophes (`"Domino's Pizza"`, `"Mery's Market Barcelo"`) or a
backslash, numeric `type` codes mixed with enum names, null and
`Rejected by admin` reasons, null `reference_id`s, and dates inside the
2024 `TransactionsView` window. Deterministic: the same seed writes the same
bytes.

Usage: python3 tools/golden_fixture.py <outDir>
"""
import csv
import os
import random
import sys
import uuid
from datetime import datetime, timedelta

import duckdb

N_REWARDS, N_TX = 60, 100
USER = "5f0c8c7e-3d64-4b1a-9a5e-2f1f3c0b7a11"
TX_TYPES = ["CARD_SETTLEMENT"] * 4 + ["CARD_AUTHORISATION", "CARD_REFUND",
            "DEPOSIT_FUNDS_RECEIVED", "DIRECT_DEBIT", "FASTER_PAYMENT_OUT",
            "FEE", "31", "29", "35", "45", "5", "0"]
MERCHANTS = ["CRV*PIZZA HUT AIPC HIG", "TESCO STORES 3391", "Domino's Pizza",
             "Mery's Market Barcelo", "AMAZON.CO.UK*2R4", "PRET A MANGER",
             "Afas Live\\Johan", "COSTA COFFEE 4312", "McDONALD'S, LONDON"]
REF_TYPES = ["contis_transactions", "fiat_transactions", "contis_transactions_partial",
             "fiat_transactions_partial", "perk_amazon_reward", "manual_reward",
             "referring_reward"]
REASONS = ["Automated approval. Trx below 500", "Automated approval after 45 days",
           "Approved by admin", "Perk reward"]
TX_HEADER = ["id", "model", "user_id", "currency", "amount", "date", "type",
             "is_debit", "description", "__typename"]
RW_HEADER = ["id", "user_id", "amount", "rebate_rate", "type", "reference_type",
             "reference_id", "available", "reason", "base_rate", "staking_rate",
             "subscription_plan", "exchange_rate_id", "fiat_amount_rewarded",
             "approved_by", "createdAt", "updatedAt", "contis_transaction",
             "fiat_transaction"]


def write(out):
    r = random.Random(20240101)
    uid = lambda: str(uuid.UUID(int=r.getrandbits(128), version=4))
    t0 = datetime(2024, 1, 1)
    txs = []
    for i in range(N_TX):
        debit = r.random() < 0.85
        pence = 50 + r.randrange(25000)
        when = t0 + timedelta(days=r.randrange(90), seconds=r.randrange(86400),
                              microseconds=r.randrange(1_000_000))
        txs.append({
            "id": uid(),
            "model": "ContisTransaction" if r.random() < 0.53 else "FiatTransaction",
            "user_id": USER, "currency": "GBP",
            "amount": str(-pence if debit else pence),
            "date": when.strftime("%Y-%m-%d %H:%M:%S.%f") + "+00:00",
            # every 16th row is a settlement, then a mix of names and codes
            "type": "CARD_SETTLEMENT" if i % 16 == 0 else r.choice(TX_TYPES),
            "is_debit": "" if r.random() < 0.47 else str(debit),
            # the apostrophe/backslash merchants appear on fixed rows
            "description": MERCHANTS[i] if i < len(MERCHANTS)
            else ("" if r.random() < 0.27 else r.choice(MERCHANTS)),
            "__typename": "transactions_view"})
    rewards = []
    for i in range(N_REWARDS):
        tx = txs[i]
        when = datetime.strptime(tx["date"][:26], "%Y-%m-%d %H:%M:%S.%f") + timedelta(hours=1)
        rebate = r.choice([0, 3, 3, 3, 4, 5])
        # 4 null reasons, 6 rejected: 54 rewards survive the P4 filter
        reason = None if i % 15 == 7 else "Rejected by admin" if i % 10 == 3 else r.choice(REASONS)
        # 2 null references, 1 dangling one: 3 rewards join no transaction
        ref = None if i in (11, 47) else uid() if i == 29 else tx["id"]
        desc = tx["description"] or r.choice(MERCHANTS)
        amount = abs(int(tx["amount"]))
        contis = None if (i >= len(MERCHANTS) and r.random() < 0.36) else repr({
            "description": desc, "currency": "GBP",
            "transaction_amount": str(amount / 100), "settled": r.random() < 0.5})
        fiat = None if (i >= len(MERCHANTS) and r.random() < 0.68) else repr({
            "id": uid(), "clean_description": desc, "mcc": str(5000 + r.randrange(999)),
            "merchantIcon": f"https://icons.example.com/m/{r.randrange(5000)}.png",
            "card_transactions": {"api_response": {
                "TransactionAmount": tx["amount"], "Reference": None}}})
        rewards.append({
            "id": uid(), "user_id": USER, "amount": f"{0.001 + r.random() * 2:.8f}",
            "rebate_rate": str(rebate),
            "type": "REBATE_BONUS" if i == 5 else "DAILY_REBATE_DISTRIBUTION",
            "reference_type": r.choice(REF_TYPES), "reference_id": ref,
            "available": str(r.random() < 0.9), "reason": reason,
            "base_rate": "0" if rebate == 0 else "3", "staking_rate": r.choice("023"),
            "subscription_plan": None if r.random() < 0.2 else r.choice(["premium", "everyday"]),
            "exchange_rate_id": None if r.random() < 0.3 else uid(),
            "fiat_amount_rewarded": None if i == 13 else f"{10 + r.randrange(2000)}.0",
            "approved_by": None,
            "createdAt": when.strftime("%Y-%m-%dT%H:%M:%S.") + f"{when.microsecond // 1000:03d}Z",
            "updatedAt": (when + timedelta(days=r.randrange(3))).strftime("%Y-%m-%dT%H:%M:%S.")
            + f"{when.microsecond // 1000:03d}Z",
            "contis_transaction": contis, "fiat_transaction": fiat})
    os.makedirs(out, exist_ok=True)
    for name, header, rows in (("transactions.csv", TX_HEADER, txs),
                               ("rewards.csv", RW_HEADER, rewards)):
        with open(os.path.join(out, name), "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            for row in rows:
                w.writerow(["" if row[c] is None else row[c] for c in header])


def counts(out):
    con = duckdb.connect()
    for t in ("rewards", "transactions"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_csv('{out}/{t}.csv', "
                    "header=true, all_varchar=true, quote='\"', escape='\"')")
    q = {
        "rewards": "SELECT count(*) FROM rewards",
        "cashback rows (rewards LEFT JOIN transactions)":
            "SELECT count(*) FROM rewards r LEFT JOIN transactions t ON r.reference_id = t.id",
        "rewards surviving the null-safe rejected filter":
            "SELECT count(*) FROM rewards WHERE reason IS NULL OR reason <> 'Rejected by admin'",
        "null reasons": "SELECT count(*) FROM rewards WHERE reason IS NULL",
        "rejected by admin": "SELECT count(*) FROM rewards WHERE reason = 'Rejected by admin'",
        "rewards joining no transaction":
            "SELECT count(*) FROM rewards r LEFT JOIN transactions t ON r.reference_id = t.id "
            "WHERE t.id IS NULL",
        "transactions": "SELECT count(*) FROM transactions",
        "CARD_SETTLEMENT in [2024-01-01, 2024-12-31]":
            "SELECT count(*) FROM transactions WHERE type = 'CARD_SETTLEMENT' AND "
            "CAST(date AS TIMESTAMPTZ) BETWEEN TIMESTAMPTZ '2024-01-01 00:00:00+00' "
            "AND TIMESTAMPTZ '2024-12-31 00:00:00+00'",
        "distinct numeric type codes":
            "SELECT count(DISTINCT type) FROM transactions WHERE regexp_matches(type, '^[0-9]+$')",
    }
    for label, sql in q.items():
        print(f"{label}: {con.execute(sql).fetchone()[0]}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    write(sys.argv[1])
    counts(sys.argv[1])
