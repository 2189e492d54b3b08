"""The Superstore batch generator is deterministic and its expected counts
follow SCD2 semantics."""

import csv
import hashlib
from itertools import islice

from perfbench import superstore


def write_batches(out_dir, seed, n, *args, **kwargs):
    return list(islice(superstore.iter_batches(out_dir, seed, *args, **kwargs), n))


def _hashes(batches):
    return [hashlib.sha256(open(b.path, "rb").read()).hexdigest() for b in batches]


def test_same_seed_gives_identical_bytes(tmp_path):
    a = write_batches(str(tmp_path / "a"), 7, 4, 200)
    b = write_batches(str(tmp_path / "b"), 7, 4, 200)
    c = write_batches(str(tmp_path / "c"), 8, 4, 200)
    assert _hashes(a) == _hashes(b)
    assert [x.expected for x in a] == [x.expected for x in b]
    assert _hashes(a) != _hashes(c)


def _read(path):
    with open(path, encoding="latin1", newline="") as f:
        return list(csv.DictReader(f))


def test_reference_shape(tmp_path):
    batches = write_batches(str(tmp_path), 3, 2, 400)
    rows = _read(batches[0].path)
    assert len(rows) == 400 == batches[0].expected.rows
    assert list(rows[0]) == superstore.HEADER.split(",")
    # M/d/yyyy dates without zero padding, latin1 names, mostly-blank category
    assert all(len(r["Order Date"].split("/")) == 3 for r in rows)
    assert any(r["Order Date"].split("/")[0] in "123456789" for r in rows)
    assert any(any(ord(ch) > 127 for ch in r["Customer Name"]) for r in rows)
    blank = sum(1 for r in rows if r["category"] == "") / len(rows)
    assert 0.75 < blank < 0.98
    raw = open(batches[0].path, "rb").read()
    assert raw.decode("latin1").encode("latin1") == raw


def _scd2_expectations(batches):
    """Recompute each batch's dimension counts from the CSV rows alone."""
    cur = {"cust": {}, "prod": {}}
    n_rows = {"cust": 0, "prod": 0}
    out = []
    for b in batches:
        rows = _read(b.path)
        members = {
            "cust": {(r["Customer ID"], (r["Customer Name"], r["Segment"], r["Region"])) for r in rows},
            "prod": {(r["Product ID"], (r["Product Name"], r["category"], r["Sub-Category"])) for r in rows},
        }
        for dim, pairs in members.items():
            batch = dict(pairs)
            assert len(batch) == len(pairs)  # one attribute tuple per key
            for key, attrs in batch.items():
                if cur[dim].get(key) != attrs:
                    n_rows[dim] += 1
                    cur[dim][key] = attrs
        out.append((n_rows["cust"], len(cur["cust"]), n_rows["prod"], len(cur["prod"])))
    return out


def test_expected_counts_follow_scd2(tmp_path):
    batches = write_batches(
        str(tmp_path), 5, 5, 300, changed_customer_share=0.2, renamed_product_share=0.2
    )
    got = [
        (e.dim_customer_rows, e.dim_customer_current, e.dim_product_rows,
         e.dim_product_current)
        for e in (b.expected for b in batches)
    ]
    assert got == _scd2_expectations(batches)
    last = batches[-1].expected
    # changes happened: more versions than current members
    assert last.dim_customer_rows > last.dim_customer_current
    assert last.dim_product_rows > last.dim_product_current
    first = _read(batches[0].path)
    assert last.dim_store_rows == len({r["City"] for r in first})
    assert last.fact_rows == 5 * 300
    assert last.audit_rows == 5 + 4 * 3
