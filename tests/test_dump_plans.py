"""PLANS.md stays stable across corpus copies: tools/dump_plans.py
masks the corpus fingerprint in layout and snapshot-table names."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.dump_plans import mask_fingerprints  # noqa: E402


def test_mask_hides_only_the_corpus_fingerprint():
    fp = "0123456789abcdef"
    cases = {
        f"Scan parquet spark_catalog.default.dbis_bkt_orders_{fp}_d60efd08 (1)":
        "Scan parquet spark_catalog.default.dbis_bkt_orders_<fp>_d60efd08 (1)",
        f"/tmp/dbis_warehouse/dbis_part_line_item_{fp}_6ff66c4c/x":
        "/tmp/dbis_warehouse/dbis_part_line_item_<fp>_6ff66c4c/x",
        f"dbis_snap_upsert_{fp}_a1b2c3d4e5, dbis_bkt_events_{fp}_3259f1b8":
        "dbis_snap_upsert_<fp>_a1b2c3d4e5, dbis_bkt_events_<fp>_3259f1b8",
    }
    for text, want in cases.items():
        assert mask_fingerprints(text) == want
    # not a 16-hex segment, not a dbis layout name, or no tag after it
    for keep in (
        f"dbis_bkt_orders_{fp}ff_d60efd08",
        "dbis_bkt_orders__root_sf_36647_1786999316618367870_d60efd08",
        f"other_orders_{fp}_d60efd08",
        f"dbis_bkt_orders_{fp}",
    ):
        assert mask_fingerprints(keep) == keep
