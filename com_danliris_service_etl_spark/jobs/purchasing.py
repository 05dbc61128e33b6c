"""Purchasing facts: Fact Pembelian (the 57-column purchasing-cycle fact)
and Fact Total Hutang (payables).

Reference pipelines:
- `Pembelian/run.js:8-379` — 10-table left-join chain (J1:
  purchaserequests→IPO→EPOItems→EPODetails→EPO→DOItems→DO→URN→UPOItems→UPO),
  currency broadcast probe (J3, `:183-199`), D6 min-date clamp on every
  date, D1 day-diffs with M4/M5 range buckets, M6 category type, M8 on-time
  status, M1 money arithmetic.
- `TotalHutang/run.js:65-187` — URN scan (watermark `>`, P3+P4) with
  per-row child fetches (J5): URN items through the EPO chain for the
  currency rate, plus first-match UPO (J6, `upos[0]` at `:135`);
  E2 explode of items; A4 monotonic surrogate key at load (`:208`).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.functions.conditional import (
    bucket_days_month,
    bucket_days_week,
    category_bahan_baku,
    on_time_status,
)
from com_danliris_service_etl_spark.functions.dates import (
    clamp_min_date,
    day_diff,
    fmt_date,
    to_jakarta,
)
from com_danliris_service_etl_spark.jobs._helpers import bool_str, nz_num, nz_str
from com_danliris_service_etl_spark.operators.joins import first_match_join
from com_danliris_service_etl_spark.operators.windows import (
    surrogate_key_distributed,
)
from com_danliris_service_etl_spark.plans.jobs import JobSpec
from com_danliris_service_etl_spark.sources.catalog import Catalog


def _vdate(c: str) -> Column:
    """D6 — `validateDate` (`Pembelian/run.js:108-118`): dates below the SQL
    Server datetime floor get the current year substituted."""
    return clamp_min_date(F.col(c))


def _vday(clamped: Column) -> Column:
    """+7h-shifted, day-formatted output of a D6-clamped date (D3/D4)."""
    return F.when(clamped.isNotNull(), fmt_date(to_jakarta(clamped)))


def build_pembelian(spark: SparkSession, catalog: Catalog, wm: dt.datetime) -> DataFrame:
    """`Pembelian/run.js:120-169` extract + `:183-199` currency join +
    `:201-283` transform."""
    pr = (
        catalog.read("purchaserequests")
        .filter(F.col("lastmodifiedutc") > F.lit(wm))
        .filter(~F.col("createdby").isin("dev", "unit-test"))
    )
    ipo = (
        catalog.read("internalpurchaseorders")
        .filter(~F.col("IsDeleted"))
        .filter(~F.col("createdBy").isin("dev", "unit-test"))
    )
    ei = catalog.read("externalpurchaseorderitems").filter(~F.col("IsDeleted"))
    ed = catalog.read("externalpurchaseorderdetails")
    epo = catalog.read("externalpurchaseorders")
    doi = catalog.read("deliveryorderitems")
    do = catalog.read("deliveryorders")
    urn = catalog.read("unitreceiptnotes")
    upoi = catalog.read("unitpaymentorderitems")
    upo = catalog.read("unitpaymentorders")
    cur = catalog.read("currencies").select(
        F.col("id").alias("currencyId"), F.col("description").alias("currencyName")
    )

    joined = (
        pr.alias("pr")
        # The reference puts `ipo.IsDeleted = 0 AND ei.IsDeleted = 0 AND
        # ipo.createdby NOT IN (...)` in the WHERE clause AFTER its LEFT
        # JOINs (`Pembelian/run.js:166`) — null-rejecting predicates that
        # turn pr->ipo->ei into INNER joins: a PR with no qualifying
        # IPO/EI emits nothing. Express that directly as inner joins over
        # the pre-filtered sides (same row set, and Catalyst needn't derive
        # the conversion).
        .join(ipo.alias("ipo"), F.col("pr.Id") == F.col("ipo.PRId"), "inner")
        .join(ei.alias("ei"), F.col("ipo.Id") == F.col("ei.poId"), "inner")
        .join(ed.alias("ed"), F.col("ei.Id") == F.col("ed.EPOItemId"), "left")
        .join(epo.alias("e"), F.col("ei.EPOId") == F.col("e.Id"), "left")
        .join(doi.alias("doi"), F.col("e.Id") == F.col("doi.EPOId"), "left")
        .join(do.alias("d"), F.col("doi.DOId") == F.col("d.Id"), "left")
        .join(urn.alias("urn"), F.col("d.Id") == F.col("urn.doId"), "left")
        .join(upoi.alias("upoi"), F.col("urn.id") == F.col("upoi.URNId"), "left")
        .join(upo.alias("upo"), F.col("upoi.UPOId") == F.col("upo.Id"), "left")
        .select(
            F.col("pr.no").alias("prNo"),
            F.col("pr.createdUtc").alias("prCreatedUtc"),
            F.col("pr.expectedDeliveryDate").alias("prExpectedDeliveryDate"),
            F.col("pr.budgetCode").alias("budgetCode"),
            F.col("pr.budgetName").alias("budgetName"),
            F.col("pr.unitCode").alias("unitCode"),
            F.col("pr.unitName").alias("unitName"),
            F.col("pr.divisionCode").alias("divisionCode"),
            F.col("pr.divisionName").alias("divisionName"),
            F.col("pr.categoryCode").alias("categoryCode"),
            F.col("pr.categoryName").alias("categoryName"),
            F.col("pr.isDeleted").alias("prDeleted"),
            F.col("ipo.createdBy").alias("ipoCreatedBy"),
            F.col("ipo.CreatedUtc").alias("ipoCreatedUtc"),
            F.col("ipo.PONo").alias("PONo"),
            F.col("ipo.IsDeleted").alias("ipoIsDeleted"),
            F.col("ipo.prNo").alias("ipoPrNo"),
            F.col("ipo.expectedDeliveryDate").alias("ipoExpectedDeliveryDate"),
            F.col("e.createdUtc").alias("epoCreatedUtc"),
            F.col("e.epoNo").alias("epoNo"),
            F.col("e.supplierCode").alias("supplierCode"),
            F.col("e.supplierName").alias("supplierName"),
            F.col("e.currencyId").alias("currencyId"),
            F.col("e.currencyCode").alias("currencyCode"),
            F.col("e.paymentMethod").alias("paymentMethod"),
            F.col("e.currencyRate").alias("currencyRate"),
            F.col("ed.productCode").alias("productCode"),
            F.col("ed.productName").alias("productName"),
            F.col("ed.dealQuantity").alias("dealQuantity"),
            F.col("ed.dealUomUnit").alias("dealUomUnit"),
            F.col("ed.pricePerDealUnit").alias("pricePerDealUnit"),
            F.col("d.DONo").alias("DONo"),
            F.col("d.DODate").alias("DODate"),
            F.col("urn.urnNo").alias("URNNo"),
            F.col("urn.receiptDate").alias("receiptDate"),
            F.col("upo.upoNo").alias("interNoteNo"),
            F.col("upo.date").alias("interNoteDate"),
        )
        .join(F.broadcast(cur), "currencyId", "left")
    )

    # Each of these dates feeds an output day and up to four day-diffs,
    # mostly inside conditional branches where subexpression elimination
    # cannot share it, so inlined clamps repeat up to 5x per date and the
    # generated code outgrows the 64 KB JVM method limit (whole-stage
    # codegen then fails to compile and falls back to per-operator
    # execution, paying the failed compile on every fresh plan). Clamped once
    # in their own projection, they stay there: Catalyst does not collapse
    # a non-cheap expression into a projection that references it twice.
    reused = (
        "prCreatedUtc", "ipoCreatedUtc", "epoCreatedUtc", "DODate", "receiptDate", "interNoteDate",
    )
    joined = joined.withColumns({f"v_{c}": _vdate(c) for c in reused})
    pr_d, ipo_d, epo_d, do_d, urn_d, upo_d = (F.col(f"v_{c}") for c in reused)

    po_int_days = day_diff(ipo_d, pr_d)
    pr_po_ext_days = day_diff(epo_d, pr_d)
    po_ext_days = day_diff(epo_d, ipo_d)
    do_days = day_diff(do_d, epo_d)
    urn_days = day_diff(urn_d, do_d)
    upo_days = day_diff(upo_d, urn_d)
    po_days = day_diff(upo_d, ipo_d)

    has_ipo = F.col("ipoCreatedUtc").isNotNull()
    has_epo = F.col("epoCreatedUtc").isNotNull()
    has_do = F.col("DODate").isNotNull()
    has_urn = F.col("receiptDate").isNotNull()
    has_upo = F.col("interNoteDate").isNotNull()

    return joined.select(
        nz_str("prNo", sanitize=False).alias("purchase_request_no"),
        _vday(pr_d).alias("purchase_request_date"),
        _vday(_vdate("prExpectedDeliveryDate")).alias("expected_pr_delivery_date"),
        nz_str("budgetCode", sanitize=False).alias("budget_code"),
        nz_str("budgetName", sanitize=False).alias("budget_name"),
        nz_str("unitCode", sanitize=False).alias("unit_code"),
        nz_str("unitName", sanitize=False).alias("unit_name"),
        nz_str("divisionCode", sanitize=False).alias("division_code"),
        nz_str("divisionName", sanitize=False).alias("division_name"),
        nz_str("categoryCode", sanitize=False).alias("category_code"),
        nz_str("categoryName", sanitize=False).alias("category_name"),
        F.when(F.col("categoryName").isNotNull(), category_bahan_baku(F.col("categoryName"))).alias(
            "category_type"
        ),
        nz_str("productCode", sanitize=False).alias("product_code"),
        nz_str("productName").alias("product_name"),
        F.when(has_ipo, po_int_days).alias("purchase_request_days"),
        F.when(has_ipo, bucket_days_week(po_int_days)).alias("purchase_request_days_range"),
        F.when(has_epo, pr_po_ext_days).alias("pr_po_external_days"),
        F.when(has_epo, bucket_days_week(pr_po_ext_days)).alias("pr_po_external_days_range"),
        nz_str("PONo", sanitize=False).alias("purchase_order_no"),
        _vday(ipo_d).alias("purchase_order_date"),
        F.when(has_epo, po_ext_days).alias("po_external_days"),
        F.when(has_epo, bucket_days_week(po_ext_days)).alias("po_external_days_range"),
        F.when(has_ipo, F.col("ipoCreatedBy")).alias("purchasing_staff_name"),
        nz_str("ipoPrNo", sanitize=False).alias("pr_no_at_po"),
        nz_str("epoNo", sanitize=False).alias("po_external_no"),
        _vday(epo_d).alias("po_external_date"),
        F.when(has_epo & has_do, do_days).alias("delivery_order_days"),
        F.when(has_epo & has_do, bucket_days_month(do_days)).alias("delivery_order_days_range"),
        nz_str("supplierCode", sanitize=False).alias("supplier_code"),
        nz_str("supplierName").alias("supplier_name"),
        nz_str("currencyCode", sanitize=False).alias("currency_code"),
        nz_str("currencyName", sanitize=False).alias("currency_name"),
        nz_str("paymentMethod", sanitize=False).alias("payment_method"),
        nz_num("currencyRate").alias("currency_rate"),
        nz_num("dealQuantity").alias("purchase_quantity"),
        nz_str("dealUomUnit", sanitize=False).alias("uom"),
        nz_num("pricePerDealUnit").alias("price_per_unit"),
        F.when(
            nz_num("pricePerDealUnit").isNotNull() & nz_num("dealQuantity").isNotNull(),
            F.col("dealQuantity") * F.col("pricePerDealUnit") * F.col("currencyRate"),
        ).alias("total_price"),
        _vday(_vdate("ipoExpectedDeliveryDate")).alias("expected_delivery_date"),
        F.when(F.col("epoNo").isNotNull(), F.col("prNo")).alias("pr_no_at_po_ext"),
        nz_str("DONo", sanitize=False).alias("delivery_order_no"),
        _vday(do_d).alias("delivery_order_date"),
        F.when(has_urn, urn_days).alias("unit_receipt_note_days"),
        F.when(has_urn, bucket_days_week(urn_days)).alias("unit_receipt_note_days_range"),
        F.when(has_do, on_time_status(F.col("DODate"), F.col("ipoExpectedDeliveryDate"))).alias(
            "status"
        ),
        F.when(F.col("DONo").isNotNull(), F.col("prNo")).alias("pr_no_at_do"),
        nz_str("URNNo", sanitize=False).alias("unit_receipt_note_no"),
        _vday(urn_d).alias("unit_receipt_note_date"),
        F.when(has_upo, upo_days).alias("unit_payment_order_days"),
        F.when(has_upo, bucket_days_week(upo_days)).alias("unit_payment_order_days_range"),
        nz_str("interNoteNo", sanitize=False).alias("unit_payment_order_no"),
        _vday(upo_d).alias("unit_payment_order_date"),
        F.when(has_upo, po_days).alias("purchase_order_days"),
        F.when(has_upo, bucket_days_month(po_days)).alias("purchase_order_days_range"),
        F.when(has_upo, F.col("pricePerDealUnit").cast("string")).alias("invoice_price"),
        bool_str("prDeleted").alias("deleted_pr"),
        bool_str("ipoIsDeleted").alias("deleted_po"),
    )


def build_total_hutang(spark: SparkSession, catalog: Catalog, wm: dt.datetime) -> DataFrame:
    """`TotalHutang/run.js:65-187`: URNs (P2 `>` + P3 + P4) joined to their
    items through the EPO chain (the per-row `joinURNItems` loop become one
    4-way left join), first-match UPO via the UPO⨝UPOItems inner join
    (J6 with an explicit upoNo tiebreak), then the M1 money product and A4
    surrogate counter."""
    urn = (
        catalog.read("unitreceiptnotes")
        .filter(F.col("lastmodifiedutc") > F.lit(wm))
        .filter(~F.col("isdeleted"))
        .filter(~F.col("createdby").isin("dev", "unit-test"))
        .select(F.col("id"), F.col("urnNo"), F.col("unitName"))
    )
    urni = catalog.read("unitreceiptnoteitems")
    ed = catalog.read("externalpurchaseorderdetails")
    ei = catalog.read("externalpurchaseorderitems")
    epo = catalog.read("externalpurchaseorders")
    items = (
        urni.alias("urni")
        .join(ed.alias("epid"), F.col("urni.EPODetailId") == F.col("epid.Id"), "left")
        .join(ei.alias("epi"), F.col("epid.EPOItemId") == F.col("epi.Id"), "left")
        .join(epo.alias("ep"), F.col("epi.EPOId") == F.col("ep.Id"), "left")
        .select(
            F.col("urni.urnid").alias("urnid"),
            F.col("urni.pricePerDealUnit").alias("pricePerDealUnit"),
            F.col("urni.receiptQuantity").alias("deliveredQuantity"),
            F.col("ep.currencyRate").alias("currencyRate"),
            F.col("urni.productName").alias("productName"),
            F.col("urni.productCode").alias("productCode"),
        )
    )
    upo = catalog.read("unitpaymentorders")
    upoi = catalog.read("unitpaymentorderitems")
    upo_per_urn = (
        upo.alias("up")
        .join(upoi.alias("upi"), F.col("up.id") == F.col("upi.upoid"))
        .select(
            F.col("upi.urnid").alias("id"),
            F.col("up.upoNo").alias("upoNo"),
            F.col("up.date").alias("upoDate"),
            F.col("up.dueDate").alias("upoDueDate"),
            F.col("up.supplierName").alias("supplierName"),
            F.col("up.categoryName").alias("categoryName"),
            F.col("up.divisionName").alias("divisionName"),
        )
    )
    base = urn.join(items, urn["id"] == items["urnid"], "left").drop("urnid")
    enriched = first_match_join(
        base, upo_per_urn, on="id", order_by=F.col("upoNo"), broadcast_right=False
    )
    has_upo = F.col("upoNo").isNotNull()
    out = enriched.select(
        F.when(has_upo, F.col("upoNo")).alias("unit_payment_order_no"),
        F.when(has_upo, fmt_date(to_jakarta(F.col("upoDate")))).alias("unit_payment_order_date"),
        F.when(has_upo, fmt_date(to_jakarta(F.col("upoDueDate")))).alias(
            "unit_payment_order_due_date"
        ),
        F.when(has_upo, nz_str("supplierName")).alias("supplier_name"),
        F.when(has_upo, F.col("categoryName")).alias("category_name"),
        F.when(has_upo, category_bahan_baku(F.col("categoryName"))).alias("category_type"),
        F.when(has_upo, F.col("divisionName")).alias("division_name"),
        F.col("unitName").cast("string").alias("unit_name"),
        F.col("pricePerDealUnit").alias("invoice_price"),
        F.col("deliveredQuantity").alias("unit_receipt_note_quantity"),
        F.col("currencyRate").alias("po_external_currency_rate"),
        (F.col("pricePerDealUnit") * F.col("deliveredQuantity") * F.col("currencyRate")).alias(
            "total"
        ),
        F.col("urnNo").cast("string").alias("unit_receipt_note_no"),
        nz_str("productName").alias("product_name"),
        F.col("productCode").cast("string").alias("product_code"),
    )
    # A4 determinism (SURVEY §7.4): the reference's counter follows DB
    # return order; here the ordering must be TOTAL or duplicate
    # (urn, product) rows get engine-dependent ids — so every output
    # column participates. The DISTRIBUTED form assigns the identical
    # dense 1..N (golden test pins it against the oracle row_number)
    # without funneling the fact through one partition — the global
    # window would serialize a 100 TB nightly load through one task.
    return surrogate_key_distributed(
        out,
        order_by=[F.col(c) for c in out.columns],
        out_col="row_id",
    )


SPECS = [
    JobSpec(
        name="Fact Pembelian from MongoDB to Azure DWH",
        build=build_pembelian,
        merge_keys=[
            "purchase_request_no",
            "purchase_order_no",
            "po_external_no",
            "product_code",
            "delivery_order_no",
            "unit_receipt_note_no",
            "unit_payment_order_no",
        ],
        target="dl_fact_pembelian",
        # Detail grain: one row per PR->IPO->EI->DO->URN->UPO chain link
        # (`Pembelian/run.js:165` flattens the full chain); replace-group
        # keeps legitimately-identical chain rows from collapsing.
        grain="group",
    ),
    JobSpec(
        name="Fact Total Hutang from MongoDB to Azure DWH",
        build=build_total_hutang,
        merge_keys=["unit_receipt_note_no", "product_code"],
        target="dl_fact_total_hutang",
        # Detail grain: one row per URN item (`TotalHutang/run.js:156` maps
        # unitReceiptNote.items); two items of the same product in one URN
        # are distinct fact rows.
        grain="group",
    ),
]
