"""All 23 reference pipelines (22 ETL jobs + migration-log sync) build and
produce the expected shapes over FIXTURES.md-style inline sources.

Spot value checks pin the interesting semantics per family: D6 clamp +
M4/M5 buckets (Pembelian), J7 as-of rate with default 1 (GarmentTotalHutang),
A3 weighted criteria scores (FabricQC), E5 left-outer branches
(GarmentPembelian, ProductionOrderStatus), U2 discriminator (SC family).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.jobs import ALL_SPECS
from com_danliris_service_etl_spark.sources.catalog import MemoryCatalog

WM = dt.datetime(1970, 1, 1)
T = dt.datetime(2024, 3, 10, 12, 0, 0)


def _df(spark, schema: str, *rows):
    return spark.createDataFrame(list(rows), schema)


@pytest.fixture(scope="module")
def catalog(spark):
    d = dt.datetime
    frames = {
        # --- inventory ---------------------------------------------------
        "inventorysummaries": _df(
            spark,
            "storageCode string, storageName string, quantity double, productCode string,"
            " productName string, uomunit string, _isdeleted boolean, no string,"
            " _lastmodifiedutc timestamp",
            ("ST1", "Main's", 10.0, "P1", "Cotton", "MTR", False, "IS-1", T),
            (None, None, 0.0, "P2", None, None, True, "IS-2", T),
        ),
        "inventorymovements": _df(
            spark,
            "storageCode string, storageName string, date timestamp, quantity double,"
            " type string, productCode string, productName string, uomunit string,"
            " _isdeleted boolean, no string, referenceNo string, referenceType string,"
            " before double, after double, remark string, _lastmodifiedutc timestamp",
            ("ST1", "Main", d(2024, 3, 9, 20, 0), 5.0, "IN", "P1", "Cotton", "MTR",
             False, "IM-1", "R-1", "DO", 0.0, 5.0, "it's fine", T),
        ),
        # --- production --------------------------------------------------
        "kanbans": _df(
            spark,
            "Id long, code string, createdutc timestamp, isdeleted boolean,"
            " ProductionOrderOrderNo string, grade string, cartcartnumber string,"
            " CartQty double, CurrentStepIndex long, IsComplete boolean,"
            " ProductionOrderSalesContractNo string, ProductionOrderProcessTypeName string,"
            " ProductionOrderOrderTypeName string, IsBadOutput boolean, IsReprocess boolean,"
            " OldKanbanId string, productionOrderId long, CartCode string, CartPcs double,"
            " SelectedProductionOrderDetailColorRequest string,"
            " SelectedProductionOrderDetailColorTemplate string,"
            " selectedProductionOrderDetailUomUnit string, lastmodifiedutc timestamp",
            (1, "KB-1", d(2024, 3, 1, 18, 0), False, "PO-1", "A", "C01", 12.0, 1, False,
             "SC-1", "Printing", "Solid", False, False, None, 100, "CC-1", 3.0,
             "Red's req", "Tmpl", "MTR", T),
        ),
        "kanbaninstructions": _df(
            spark,
            "id long, kanbanid long, Code string, name string",
            (11, 1, "KI-1", "instr"),
        ),
        "kanbansteps": _df(
            spark,
            "id long, instructionid long, code string, process string, machineid long,"
            " Deadline timestamp, ProcessArea string, stepindex long",
            (21, 11, "KS-1", "dye", 31, d(2024, 3, 5), "area", 1),
        ),
        "machine": _df(
            spark,
            "id long, code string, name string, MonthlyCapacity double, process string,"
            " year int, condition string, manufacture string, unitCode string,"
            " unitDivisionId long, unitName string",
            (31, "M-1", "Loom", 900.0, "weave", 2019, "good", "ACME", "U1", 41, "Weaving"),
        ),
        "dailyoperation": _df(
            spark,
            "Id long, _deleted boolean, isdeleted boolean, badOutput double,"
            " badOutputDescription string, code string, dateInput timestamp,"
            " dateOutput timestamp, goodOutput double, input double, shift string,"
            " timeInput timestamp, timeOutput timestamp, type string, StepId long,"
            " StepProcess string, KanbanId long, MachineId long, failedOutput double,"
            " kanbanCode string, createdUtc timestamp, lastmodifiedutc timestamp",
            (51, False, False, 1.0, "torn", "DO-1", d(2024, 3, 2), d(2024, 3, 3),
             95.0, 100.0, "pagi", d(2024, 3, 2, 1, 30), d(2024, 3, 2, 9, 30), "input",
             21, "dye", 1, 31, 4.0, "KB-1", d(2024, 3, 2), T),
        ),
        "dailyoperationbadoutputreasons": _df(
            spark,
            "id long, DailyOperationId long, badOutputCode string, badOutputReason string,"
            " length double, description string, action string",
            (61, 51, "B1", "tear", 2.0, "edge's torn", "rework"),
        ),
        "monitoringevent": _df(
            spark,
            "code string, cartNumber string, dateStart timestamp, timeInMilisStart long,"
            " timeInMilisEnd long, dateEnd timestamp, productionOrderId long,"
            " remark string, machineId long, machineEventId long, createdBy string,"
            " isDeleted boolean, lastmodifiedutc timestamp",
            ("ME-1", "C01", d(2024, 3, 2), 1709340000000, 1709343600000, d(2024, 3, 2),
             100, "ok", 31, 71, "op1", False, T),
            ("ME-2", "C02", d(2024, 3, 2), 1709340000000, 1709343600000, d(2024, 3, 2),
             100, "excluded", 31, 71, "dev", False, T),
        ),
        "divisions": _df(
            spark, "id long, code string, name string", (41, "DV-1", "Divisi Weaving")
        ),
        "buyers": _df(
            spark,
            "id long, address string, code string, contact string, country string,"
            " name string, tempo string",
            (81, "Jl. 1", "BY-1", "call", "ID", "Buyer d'One", "30"),
        ),
        "machineevents": _df(
            spark,
            "id long, no string, name string, category string",
            (71, "EV-1", "stop", "MAINTENANCE"),
        ),
        "packings": _df(
            spark,
            "Id long, _deleted boolean, _createdBy string, _createdDate timestamp,"
            " code string, productionOrderNo string, orderType string,"
            " salesContractNo string, designCode string, designNumber string,"
            " buyerCode string, buyerName string, buyerAddress string, buyerType string,"
            " date timestamp, packingUom string, colorCode string, colorName string,"
            " colorType string, construction string, deliveryType string,"
            " finishedProductType string, motif string, status string, accepted boolean,"
            " declined boolean, lastmodifiedutc timestamp",
            (91, False, "pk", d(2024, 3, 1), "PK-1", "PO-1", "Solid", "SC-1", "D1", "N1",
             "BY-1", "Buyer One", "Jl. 1", "Ekspor", d(2024, 3, 4), "ROLL", "C1", "Red",
             "dyed", "2/1", "truck", "cloth", "plain", "open", True, False, T),
        ),
        "packingdetails": _df(
            spark,
            "PackingId long, lot string, grade string, weight double, length double,"
            " quantity double, remark string",
            (91, "L1", "A", 0.0, 40.0, 2.0, None),
        ),
        # --- sales -------------------------------------------------------
        "productionorder": _df(
            spark,
            "id long, salesContractNo string, OrderNo string, OrderTypeName string,"
            " ProcessTypeName string, MaterialName string, MaterialConstructionName string,"
            " YarnMaterialName string, materialWidth string, orderQuantity double,"
            " UomUnit string, BuyerName string, BuyerType string, deliveryDate timestamp,"
            " CreatedUtc timestamp, BuyerCode string, IsDeleted boolean,"
            " AccountUserName string, isClosed boolean, buyerId long,"
            " finishWidth string, handlingStandard string, remark string,"
            " sample string, shrinkageStandard string, RUN string,"
            " lastmodifiedutc timestamp",
            (100, "SC-1", "PO-1", "Solid", "Printing", "Cotton", "2/1", "40s", "44",
             100.0, "yard", "Buyer One", "Ekspor", d(2024, 3, 20), d(2024, 2, 25),
             "BY-1", False, "staff", False, 81, "44", "std", "rmk", "S1", "2%", "RUN-1", T),
            (101, "SC-1", "PO-2", "Solid", "Printing", None, "2/1", "40s", "44",
             50.0, "mtr", "Buyer One", "Ekspor", d(2024, 3, 22), d(2024, 2, 26),
             "BY-1", False, "staff", False, 81, None, None, None, None, None, None, T),
        ),
        "spinningsalescontract": _df(
            spark,
            "salesContractNo string, CreatedUtc timestamp, buyerName string,"
            " buyerType string, orderQuantity double, uomUnit string, buyerCode string,"
            " IsDeleted boolean, lastmodifiedutc timestamp",
            ("SSC-1", d(2024, 3, 1), "Buyer One", "Ekspor", 200.0, "yds", "BY-1", False, T),
        ),
        "weavingsalescontract": _df(
            spark,
            "salesContractNo string, CreatedUtc timestamp, buyerName string,"
            " buyerType string, orderQuantity double, uomUnit string, buyerCode string,"
            " productname string, materialConstructionName string, yarnMaterialName string,"
            " materialWidth string, isdeleted boolean, lastmodifiedutc timestamp",
            ("WSC-1", d(2024, 3, 1), "Buyer Two", "Lokal", 300.0, "mtr", "BY-2",
             "Cotton", "2/1", "40s", "44", False, T),
        ),
        "finishingprintingsalescontracts": _df(
            spark,
            "salesContractNo string, CreatedUtc timestamp, deliverySchedule timestamp,"
            " buyerName string, buyerType string, orderTypeName string,"
            " orderQuantity double, uomUnit string, buyerCode string,"
            " materialName string, materialConstructionName string,"
            " yarnMaterialName string, materialWidth string, IsDeleted boolean,"
            " lastmodifiedutc timestamp",
            ("SC-1", d(2024, 2, 20), d(2024, 3, 25), "Buyer One", "Ekspor", "Solid",
             100.0, "yard", "BY-1", "Cotton", "2/1", "40s", "44", False, T),
            ("SC-2", d(2024, 2, 21), d(2024, 3, 26), "Buyer Two", "Lokal", "Print",
             80.0, "mtr", "BY-2", "Cotton", "2/1", "40s", "44", False, T),
        ),
        # --- deal --------------------------------------------------------
        "dealtrackingboards": _df(
            spark,
            "IsDeleted boolean, id long, code string, createdutc timestamp,"
            " CreatedBy string, title string, currencyCode string,"
            " currencySymbol string, lastmodifiedutc timestamp",
            (False, 201, "DB-1", d(2024, 3, 1), "sales", "Q2 board", "USD", "$", T),
        ),
        "currencies": _df(
            spark,
            "id long, code string, rate double, description string, symbol string",
            (301, "USD", 15500.0, "US Dollar", "$"),
            (302, "IDR", 1.0, "Rupiah", "Rp"),
        ),
        "dealtrackingactivities": _df(
            spark,
            "IsDeleted boolean, id long, code string, createdby string,"
            " createdutc timestamp, dealId long, type string, notes string,"
            " taskTitle string, dueDate timestamp, status string, stagefromid long,"
            " stagetoid long, assignedTo string, lastmodifiedutc timestamp",
            (False, 211, "DA-1", "sales", d(2024, 3, 2), 221, "task", "call 'em",
             "Follow up", d(2024, 3, 9), "open", 231, 232, "andi", T),
        ),
        "dealtrackingdeals": _df(
            spark,
            "IsDeleted boolean, id long, code string, createdutc timestamp,"
            " CreatedBy string, name string, amount double, companyCode string,"
            " companyName string, CompanyId long, contactCode string,"
            " contactName string, closeDate timestamp, description string,"
            " reason string, quantity double, uomUnit string, stageId long,"
            " lastmodifiedutc timestamp",
            (False, 221, "DD-1", d(2024, 3, 2), "sales", "Deal One", 5e6, "CP-1",
             "PT Maju", 241, "CT-1", "Budi", d(2024, 4, 1), "big", None, 10.0, "ROLL",
             231, T),
        ),
        "companies": _df(spark, "Id long, City string", (241, "Solo")),
        "dealtrackingstages": _df(
            spark,
            "IsDeleted boolean, id long, code string, createdby string,"
            " createdutc timestamp, boardId long, name string, lastmodifiedutc timestamp",
            (False, 231, "DS-1", "sales", d(2024, 3, 1), 201, "Prospecting", T),
        ),
        # --- purchasing --------------------------------------------------
        "purchaserequests": _df(
            spark,
            "Id long, no string, createdUtc timestamp, expectedDeliveryDate timestamp,"
            " budgetCode string, budgetName string, unitCode string, unitName string,"
            " divisionCode string, divisionName string, categoryCode string,"
            " categoryName string, isDeleted boolean, createdby string,"
            " lastmodifiedutc timestamp",
            (401, "PR-1", d(2024, 2, 1), d(2024, 2, 20), "B1", "Budget", "U1", "Unit",
             "DV1", "Div", "C1", "BAHAN BAKU", False, "alice", T),
            (402, "PR-2", d(1700, 1, 1), d(2024, 2, 21), "B1", "Budget", "U1", "Unit",
             "DV1", "Div", "C2", "ACC", False, "bob", T),  # D6 clamp row
            (403, "PR-3", d(2024, 2, 3), None, None, None, None, None, None, None,
             None, None, False, "dev", T),  # P4-excluded
            (404, "PR-4", d(2024, 2, 4), d(2024, 2, 25), "B1", "Budget", "U1", "Unit",
             "DV1", "Div", "C1", "BAHAN BAKU", False, "alice", T),  # no IPO → dropped
        ),
        "internalpurchaseorders": _df(
            spark,
            "Id long, PRId long, PONo string, prNo string, createdBy string,"
            " CreatedUtc timestamp, expectedDeliveryDate timestamp, IsDeleted boolean",
            (411, 401, "IPO-1", "PR-1", "staff", d(2024, 2, 5), d(2024, 2, 22), False),
            (412, 402, "IPO-2", "PR-2", "staff", d(2024, 2, 6), d(2024, 2, 23), False),
        ),
        "externalpurchaseorderitems": _df(
            spark,
            "Id long, poId long, EPOId long, IsDeleted boolean",
            (421, 411, 431, False),
            (422, 412, 431, False),  # PR-2's chain completes through EPO-1
        ),
        "externalpurchaseorderdetails": _df(
            spark,
            "Id long, EPOItemId long, productCode string, productName string,"
            " dealQuantity double, dealUomUnit string, pricePerDealUnit double",
            (441, 421, "P1", "Cotton 40's", 100.0, "MTR", 2.5),
        ),
        "externalpurchaseorders": _df(
            spark,
            "Id long, epoNo string, createdUtc timestamp, supplierCode string,"
            " supplierName string, currencyId long, currencyCode string,"
            " currencyRate double, paymentMethod string",
            (431, "EPO-1", d(2024, 2, 13), "S1", "Supplier d'Un", 301, "USD",
             15500.0, "T/T"),
        ),
        "deliveryorderitems": _df(spark, "EPOId long, DOId long", (431, 451)),
        "deliveryorders": _df(
            spark,
            "Id long, DONo string, DODate timestamp",
            (451, "DO-1", d(2024, 2, 21)),
        ),
        "unitreceiptnotes": _df(
            spark,
            "id long, urnNo string, unitName string, receiptDate timestamp, doId long,"
            " lastmodifiedutc timestamp, isdeleted boolean, createdby string",
            (461, "URN-1", "Unit", d(2024, 2, 25), 451, T, False, "alice"),
        ),
        "unitreceiptnoteitems": _df(
            spark,
            "urnid long, pricePerDealUnit double, receiptQuantity double,"
            " productName string, productCode string, EPODetailId long",
            (461, 2.5, 100.0, "Cotton 40's", "P1", 441),
        ),
        "unitpaymentorders": _df(
            spark,
            "Id long, upoNo string, createdUtc timestamp, date timestamp,"
            " dueDate timestamp, supplierName string, categoryName string,"
            " divisionName string",
            (471, "UPO-1", d(2024, 3, 1), d(2024, 3, 1), d(2024, 3, 31),
             "Supplier d'Un", "BAHAN BAKU", "Div"),
        ),
        "unitpaymentorderitems": _df(
            spark, "UPOId long, URNId long", (471, 461)
        ),
        # --- qc ----------------------------------------------------------
        "fabricqualitycontrols": _df(
            spark,
            "id long, code string, pointSystem int, dateIm timestamp, shiftIm string,"
            " group string, operatorIm string, MachineNoIm string,"
            " ProductionOrderNo string, productionOrderType string, kanbanCode string,"
            " cartNo string, Buyer string, orderQuantity double, color string,"
            " construction string, packingInstruction string, uom string,"
            " IsDeleted boolean, IsUsed boolean, lastmodifiedutc timestamp",
            (501, "QC-1", 10, d(2024, 3, 3), "pagi", "G1", "op", "M-1", "PO-1", "Solid",
             "KB-1", "C01", "Buyer One", 100.0, "Red", "2/1", "roll", "MTR",
             False, True, T),
        ),
        "fabricgradetests": _df(
            spark,
            "id long, FabricQualityControlId long, type string, pcsNo string,"
            " grade string, width double, initLength double, avalLength double,"
            " finalLength double, sampleLength double, fabricGradeTest double,"
            " finalGradeTest double, score double, finalScore double, pointSystem int,"
            " pointLimit double",
            (511, 501, "SOLID", "PCS-1", "A", 44.0, 60.0, 1.0, 58.0, 1.0, 1.0, 1.0,
             5.0, 5.0, 10, 7.0),
            (512, 501, "SOLID", "PCS-2", "B", 44.0, 55.0, 1.0, 52.0, 1.0, 2.0, 2.0,
             9.0, 9.0, 5, 7.0),
        ),
        "criterion": _df(
            spark,
            "id long, fabricgradetestid long, code string, Group string, name string,"
            " scoreA double, scoreB double, scoreC double, scoreD double",
            (521, 511, "CR-1", "G", "hole", 1.0, 2.0, 0.0, 0.0),
            (522, 512, "CR-2", "G", "stain", 1.0, 0.0, 0.0, 1.0),
        ),
        "packingreceipt": _df(
            spark,
            "id long, _deleted boolean, code string, date timestamp,"
            " packingCode string, accepted boolean, declined boolean,"
            " referenceNo string, referenceType string, type string,"
            " productionOrderNo string, buyer string, colorName string,"
            " construction string, packingUom string, orderType string,"
            " colorType string, designCode string, designNumber string,"
            " lastmodifiedutc timestamp",
            (531, False, "PRC-1", d(2024, 3, 5), "PK-1", True, False, "R-1", "DO",
             "IN", "PO-1", "Buyer One", "Red", "2/1", "ROLL", "Solid", "dyed",
             "D1", "N1", T),
            (532, False, "PRC-2", d(2024, 3, 6), "PK-2", True, False, "R-2", "DO",
             "IN", "PO-2", "Buyer Two", "Blue", "2/1", "ROLL", "Solid", "dyed",
             "D2", "N2", T),  # no items → dropped (E4)
        ),
        "packingreceiptitem": _df(
            spark,
            "id long, product string, quantity double, length double, weight double,"
            " packingReceiptId long",
            (541, "Cotton Red", 2.0, 40.0, 12.0, 531),
        ),
        "shipmentdocuments": _df(
            spark,
            "id long, buyerCode string, buyerName string, buyerType string,"
            " code string, deliveryDate timestamp, isVoid boolean,"
            " lastmodifiedutc timestamp",
            (551, "BY-1", "Buyer One", "Ekspor", "SH-1", d(2024, 3, 8), False, T),
        ),
        "shipmentdocumentdetails": _df(
            spark,
            "id long, shipmentDocumentId long, ProductionOrderDesignCode string,"
            " ProductionOrderDesignNumber string, productionOrderType string,"
            " productionOrderNo string",
            (561, 551, "D1", "N1", "Solid", "PO-1"),
        ),
        "shipmentdocumentitems": _df(
            spark, "id long, shipmentDocumentDetailId long", (571, 561)
        ),
        "shipmentdocumentpackingreceiptitems": _df(
            spark,
            "id long, shipmentDocumentItemId long, colorType string, length double,"
            " productCode string, productName string, quantity double,"
            " uomUnit string, weight double",
            (581, 571, "dyed", 40.0, "P1", "Cotton Red", 2.0, "ROLL", 12.0),
        ),
        # --- garment -----------------------------------------------------
        "garmentpurchaserequests": _df(
            spark,
            "Id long, CreatedUtc timestamp, CreatedBy string, IsDeleted boolean,"
            " PRNo string, RONo string, BuyerCode string, BuyerName string,"
            " Article string, Date timestamp, ExpectedDeliveryDate timestamp,"
            " ShipmentDate timestamp, UnitCode string, UnitName string, UnitId long,"
            " IsPosted boolean, IsUsed boolean, lastmodifiedutc timestamp",
            (601, d(2024, 2, 1), "gar1", False, "GPR-1", "RO-1", "BY-1", "Buyer One",
             "Shirt", d(2024, 2, 1), d(2024, 2, 20), d(2024, 3, 1), "K1", "Konveksi 1",
             651, True, True, T),
            (602, d(2024, 2, 2), "gar1", False, "GPR-2", "RO-2", "BY-2", "Buyer Two",
             "Pants", d(2024, 2, 2), d(2024, 2, 21), d(2024, 3, 2), "K2", "Konveksi 2",
             651, True, False, T),  # no PO → branch C
        ),
        "garmentpurchaserequestitems": _df(
            spark,
            "Id long, GarmentPRId long, PO_SerialNumber string, ProductCode string,"
            " ProductName string, quantity double, BudgetPrice double, UomUnit string,"
            " CategoryId long, CategoryName string, IsUsed boolean",
            (611, 601, "SN-1", "GP-1", "Fabric A", 100.0, 1.5, "MTR", 661, "FABRIC", True),
            (612, 602, "SN-2", "GP-2", "Button", 500.0, 0.1, "PCS", 662, "BUTTON", False),
        ),
        "units": _df(
            spark,
            "id long, code string, divisionId long, DivisionCode string,"
            " DivisionName string",
            (651, "K1", 41, "GMT", "Garment"),
        ),
        "garmentcategories": _df(
            spark,
            "Id long, Code string",
            (661, "FAB"),
            (662, "ACC"),
            (663, "EMB"),
        ),
        "garmentinternalpurchaseorders": _df(
            spark,
            "Id long, PRId long, PONo string, CreatedUtc timestamp, CreatedBy string,"
            " IsDeleted boolean",
            (621, 601, "GPO-1", d(2024, 2, 4), "staff", False),
        ),
        "garmentinternalpurchaseorderitems": _df(
            spark,
            "Id long, GPOId long, ProductCode string, ProductName string,"
            " CategoryId long, CategoryName string",
            (631, 621, "GP-1", "Fabric A", 661, "FABRIC"),
        ),
        "garmentexternalpurchaseorderitems": _df(
            spark,
            "Id long, POId long, GarmentEPOId long, CreatedBy string,"
            " DefaultQuantity double, DefaultUomUnit string, DealQuantity double,"
            " PricePerDealUnit double",
            (641, 621, 671, "staff", 100.0, "MTR", 100.0, 1.4),
        ),
        "garmentexternalpurchaseorders": _df(
            spark,
            "Id long, EPONo string, CreatedUtc timestamp, DeliveryDate timestamp,"
            " SupplierCode string, SupplierName string, CurrencyCode string,"
            " CurrencyRate double, PaymentMethod string",
            (671, "GEPO-1", d(2024, 2, 10), d(2024, 2, 25), "S1", "Supplier One",
             "USD", 15500.0, "T/T"),
        ),
        "garmentdeliveryorderdetails": _df(
            spark,
            "Id long, EPOItemId long, GarmentDOItemId long, DOQuantity double",
            (681, 641, 691, 60.0),
            (682, 641, 691, 40.0),
        ),
        "garmentdeliveryorderitems": _df(
            spark, "Id long, GarmentDOId long", (691, 701)
        ),
        "garmentdeliveryorders": _df(
            spark,
            "Id long, DONo string, DODate timestamp",
            (701, "GDO-1", d(2024, 2, 24)),
        ),
        "garmentunitreceiptnoteitems": _df(
            spark,
            "URNId long, DODetailId long, OrderQuantity double, UomUnit string",
            (711, 681, 60.0, "MTR"),
        ),
        "garmentunitreceiptnotes": _df(
            spark,
            "Id long, URNNo string, ReceiptDate timestamp",
            (711, "GURN-1", d(2024, 2, 26)),
        ),
        "garmentinternnotedetails": _df(
            spark,
            "GarmentItemINId long, DOId long, PriceTotal double, Quantity double,"
            " PaymentDueDate timestamp, doDate timestamp, roNo string,"
            " pricePerDealUnit double",
            (721, 701, 140.0, 100.0, d(2024, 3, 25), d(2024, 2, 24), "RO-1", 1.4),
        ),
        "garmentinternnoteitems": _df(
            spark, "Id long, GarmentINId long", (721, 731)
        ),
        "garmentinternnotes": _df(
            spark,
            "Id long, INNo string, INDate timestamp, isDeleted boolean,"
            " supplierCode string, currencyCode string, supplierName string,"
            " lastmodifiedutc timestamp",
            (731, "GIN-1", d(2024, 2, 28), False, "S1", "USD", "Supplier One", T),
            (732, "GIN-2", d(2024, 2, 28), False, "S2", "XYZ", "Supplier Two", T),
        ),
        "garmentcurrencies": _df(
            spark,
            "code string, rate double, date timestamp, _IsDeleted boolean",
            ("USD", 15000.0, d(2024, 2, 1), False),
            ("USD", 15500.0, d(2024, 2, 20), False),  # as-of winner for doDate 2/24
            ("USD", 15900.0, d(2024, 2, 28), False),  # after doDate → not picked
        ),
        # --- control -----------------------------------------------------
        "migration_log": _df(
            spark,
            "description string, start timestamp, finish timestamp,"
            " executionTime string, status string",
            ("Job A", d(2024, 3, 1, 22, 0), d(2024, 3, 1, 22, 5), "5 minutes", "Successful"),
            ("Job A", d(2024, 3, 2, 22, 0), d(2024, 3, 2, 22, 4), "4 minutes", "Successful"),
            ("Job A", d(2024, 3, 3, 22, 0), d(2024, 3, 3, 22, 1), "1 minutes", "Failed: x"),
            ("Job B", d(2024, 3, 2, 23, 0), d(2024, 3, 2, 23, 9), "9 minutes", "success"),
        ),
    }
    # GarmentInternNoteItems row for the second intern note (no details → detail cols null)
    return MemoryCatalog(spark=spark, frames=frames)


@pytest.mark.parametrize("name", sorted(ALL_SPECS))
def test_job_builds(spark, catalog, name):
    spec = ALL_SPECS[name]
    df = spec.build(spark, catalog, WM)
    rows = df.collect()
    assert df.columns, name
    assert all(k in df.columns for k in spec.merge_keys), (name, spec.merge_keys)
    assert len(rows) >= 1, name
    for target, (build_fn, keys) in spec.extra_targets.items():
        extra = build_fn(spark, catalog, WM)
        assert all(k in extra.columns for k in keys), (name, target)


def test_pembelian_semantics(spark, catalog):
    df = ALL_SPECS["Fact Pembelian from MongoDB to Azure DWH"].build(spark, catalog, WM)
    rows = {r["purchase_request_no"]: r for r in df.collect()}
    assert "PR-3" not in rows  # P4 exclusion
    # Reference WHERE applies ipo/ei predicates AFTER its LEFT JOINs
    # (`Pembelian/run.js:166`), making pr→ipo→ei effectively INNER: a PR
    # with no qualifying IPO chain never reaches the fact.
    assert "PR-4" not in rows
    r1 = rows["PR-1"]
    # D1: IPO(2/5) - PR(2/1) = 4 days → '0-7 hari' (M4)
    assert r1["purchase_request_days"] == 4
    assert r1["purchase_request_days_range"] == "0-7 hari"
    # DO(2/21) - EPO(2/13) = 8 days → month bucket '0-30 hari' (M5)
    assert r1["delivery_order_days"] == 8
    assert r1["delivery_order_days_range"] == "0-30 hari"
    # M8: DO(2/21) ≤ expected(2/22) → on time
    assert r1["status"] == "Tepat Waktu"
    # M1: 100 × 2.5 × 15500
    assert r1["total_price"] == pytest.approx(100.0 * 2.5 * 15500.0)
    # J3: currency description via broadcast probe
    assert r1["currency_name"] == "US Dollar"
    # D6 clamp: PR-2 date 1700-01-01 → year replaced with current year
    r2 = rows["PR-2"]
    assert r2["purchase_request_date"].startswith(f"{dt.date.today().year}-01-01"[:4])


def test_garment_total_hutang_asof(spark, catalog):
    df = ALL_SPECS["Fact Total Hutang Garment from MongoDB to Azure DWH"].build(
        spark, catalog, WM
    )
    rows = {r["intern_note_no"]: r for r in df.collect()}
    # J7: latest USD rate with date <= doDate(2/24) is 15500 (dated 2/20)
    assert rows["GIN-1"]["deal_rate"] == 15500.0
    assert rows["GIN-1"]["total_price"] == pytest.approx(15500.0 * 100.0 * 1.4)
    # M7: category FAB → Bahan Baku
    assert rows["GIN-1"]["category_type"] == "Bahan Baku"
    # default rate 1 when no matching currency
    assert rows["GIN-2"]["deal_rate"] == 1.0


def test_garment_pembelian_branches(spark, catalog):
    df = ALL_SPECS["Fact Garment Pembelian from MongoDB to Azure DWH"].build(
        spark, catalog, WM
    )
    rows = df.collect()
    by_pr = {}
    for r in rows:
        by_pr.setdefault(r["purchase_request_no"], []).append(r)
    # GPR-1: one PO item × two fulfillments (E2)
    assert len(by_pr["GPR-1"]) == 2
    a = by_pr["GPR-1"][0]
    assert a["category_type"] == "Bahan Baku"  # M7: FAB
    assert a["currency_symbol"] == "$"
    # GPR-2 has no PO → branch C row from its PR item, PO columns null (E5)
    assert len(by_pr["GPR-2"]) == 1
    c = by_pr["GPR-2"][0]
    assert c["purchase_order_no"] is None
    assert c["category_type"] == "Accessories"
    assert c["purchase_quantity"] == 500.0


def test_fabric_qc_scores(spark, catalog):
    df = ALL_SPECS["Fact Fabric QC from MongoDB to Azure DWH"].build(spark, catalog, WM)
    rows = {r["criteria_code"]: r for r in df.collect()}
    # A3 (pointSystem==10): 1*1 + 2*3 + 0*5 + 0*10 = 7
    assert rows["CR-1"]["total_score"] == 7.0
    # gradeTest 512 has pointSystem 5 → all terms null → total 0
    assert rows["CR-2"]["total_score"] == 0.0


def test_production_order_status_left_outer(spark, catalog):
    df = ALL_SPECS["Fact Production Order Status from MongoDB to Azure DWH"].build(
        spark, catalog, WM
    )
    rows = df.collect()
    by_sc = {}
    for r in rows:
        by_sc.setdefault(r["sales_contract_no"], []).append(r)
    # SC-1 has QC-1 with 2 grade tests → 2 rows with W1 ordinals 1,2
    idx = sorted(r["fabric_quality_control_test_index"] for r in by_sc["SC-1"])
    assert idx == [1, 2]
    # M2: sales contract qty 100 yard → 91.44 m
    assert by_sc["SC-1"][0]["sales_contract_quantity"] == pytest.approx(91.44)
    # SC-2 has no PO chain → E5 keeps one row with null QC columns
    assert len(by_sc["SC-2"]) == 1
    assert by_sc["SC-2"][0]["fabric_quality_control_code"] is None


def test_sales_contract_union_discriminator(spark, catalog):
    frames = [
        ALL_SPECS[f"Fact Sales Contract {p} from MongoDB to Azure DWH"].build(
            spark, catalog, WM
        )
        for p in ("Spinning", "Weaving", "Finishing Printing")
    ]
    union = frames[0].unionByName(frames[1]).unionByName(frames[2])
    rows = union.collect()
    types = {r["production_type"] for r in rows}
    assert types == {"Spinning", "Weaving", "Finishing Printing"}
    spin = [r for r in rows if r["production_type"] == "Spinning"][0]
    # U2: spinning lacks material columns → nulls; M2: 200 yds → 182.88 m
    assert spin["material"] is None
    assert spin["total_order_convertion"] == pytest.approx(182.88)


def test_migration_log_sync_argmax(spark, catalog):
    df = ALL_SPECS["Migration Log from MongoDB to Azure DWH"].build(spark, catalog, WM)
    rows = {r["description"]: r for r in df.collect()}
    assert set(rows) == {"Job A", "Job B"}
    # A1: latest successful run per job (3/3 failed run ignored)
    assert rows["Job A"]["execution_time"] == "4 minutes"


def test_run_job_end_to_end_idempotent(spark, catalog, tmp_path):
    """A real spec through the full control-plane protocol: watermark read →
    build → MERGE → log commit; re-running leaves the fact unchanged and the
    watermark advanced (SURVEY §5.4)."""
    from com_danliris_service_etl_spark.plans.jobs import run_job
    from com_danliris_service_etl_spark.sources.watermark import WatermarkStore

    spec = ALL_SPECS["Fact Inventory Summary from MongoDB to Azure DWH"]
    import dataclasses

    spec = dataclasses.replace(spec, target=str(tmp_path / "fact_inv_summary"))
    store = WatermarkStore(spark, str(tmp_path / "log"))

    r1 = run_job(spark, spec, catalog, store)
    assert r1.status == "Successful" and r1.rows == 2
    first = spark.read.parquet(spec.target).collect()

    r2 = run_job(spark, spec, catalog, store)
    second = spark.read.parquet(spec.target).collect()
    canon = lambda rows: sorted(map(str, map(sorted, (r.asDict().items() for r in rows))))
    assert canon(first) == canon(second)
    assert store.read_watermark(spec.name) >= r1.started


def test_nightly_schedule_runs_all(spark, catalog, tmp_path):
    """The full nightly DAG over the fixture catalog: every layer commits,
    every fact target exists, the migration log records 23 successes."""
    from com_danliris_service_etl_spark.plans.schedule import run_nightly
    from com_danliris_service_etl_spark.sources.watermark import WatermarkStore

    store = WatermarkStore(spark, str(tmp_path / "log"))
    results = run_nightly(
        spark, catalog, store, target_dir=str(tmp_path / "dwh"), continue_on_error=False
    )
    assert len(results) == 23
    assert all(r.status == "Successful" for r in results)
    assert all(r.rows >= 1 for r in results)


def test_reference_bug_divergences(spark, catalog):
    """SURVEY §2.14: the six reference crash/mis-compute sites, each pinned
    to the engine's documented intent-implementing divergence."""
    # DealTrackingActivity/run.js:77,103 emits `item.title` (always null);
    # intent: the selected taskTitle.
    act = ALL_SPECS["Fact Deal Tracking Activity from MongoDB to Azure DWH"].build(
        spark, catalog, WM
    ).collect()
    assert act[0]["title"] == "Follow up"

    # DealTrackingDeal/run.js:109 reads item.contact.lastName (never
    # selected -> crash when contactName truthy); intent: contactName alone.
    deal = ALL_SPECS["Fact Deal Tracking Deal from MongoDB to Azure DWH"].build(
        spark, catalog, WM
    ).collect()
    assert deal[0]["contact_name"] == "Budi"

    # DealTrackingStage/run.js:133-138 references stageId/id without item.
    # (ReferenceError when any deal exists); intent: the row's columns.
    spec = ALL_SPECS["Fact Deal Tracking Stage from MongoDB to Azure DWH"]
    build_fn, _keys = spec.extra_targets["dl_fact_deal_tracking_stage_deal"]
    sd = build_fn(spark, catalog, WM).collect()
    assert [(r["stage_id"], r["deal_id"]) for r in sd] == [("231", "221")]

    # ProductionOrder/run.js:142: material.replace throws on null material;
    # intent: null-safe construction string (null when any part is null).
    po = {
        r["production_order_no"]: r
        for r in ALL_SPECS["Fact Production Order from MongoDB to Azure DWH"].build(
            spark, catalog, WM
        ).collect()
    }
    assert po["PO-2"]["construction"] is None  # null material row survives
    assert po["PO-1"]["construction"] == "Cotton 2/1 40s 44"

    # MonitoringEvent/run.js:65-67: getOperationRange divides minutes by 60
    # but is fed minutes (name/unit mismatch); intent: duration in HOURS.
    me = {
        r["monitoring_event_code"]: r
        for r in ALL_SPECS["Fact Monitoring Event from MongoDB to Azure DWH"].build(
            spark, catalog, WM
        ).collect()
    }
    assert me["ME-1"]["event_range"] == 1.0  # 60 min -> 1 hour

    # GarmentTotalHutang/run.js:134 reads data.roNo (Promise.all array) so
    # PR enrichment never matches; intent (`item.roNo`) is pinned by
    # test_garment_total_hutang_asof's category_type assertion.


@pytest.mark.parametrize("name", sorted(ALL_SPECS))
def test_job_builds_survive_empty_increment(spark, catalog, name):
    """A nightly run where NOTHING changed (watermark in the far future,
    so every incremental filter yields zero rows) must build an empty
    increment without crashing — the empty-input failure class the
    distributed surrogate key had (zero-entry create_map fails analysis).
    Extra targets (S9 dual loads) ride the same contract."""
    future = dt.datetime(2100, 1, 1)
    spec = ALL_SPECS[name]
    df = spec.build(spark, catalog, future)
    if name == "Migration Log from MongoDB to Azure DWH":
        # MigrationLogFunc is a FULL sync by design (latest log row per
        # description, `MigrationLogFunc/index.js:14-45` has no watermark)
        # — it must still build, but emptiness is not its contract.
        assert df.count() >= 0
    else:
        assert df.count() == 0, name
    for target, (build_fn, _keys) in spec.extra_targets.items():
        assert build_fn(spark, catalog, future).count() == 0, (name, target)


def test_every_build_compiles_under_whole_stage_codegen(spark, catalog):
    """Every job's plan (main and extra targets) must compile. With the
    codegen fallback disabled, a generated class that outgrows the JVM's
    64 KB method limit raises instead of silently running interpreted;
    a wide projection that inlines a non-cheap expression many times (a
    date clamp per day-diff) is how a job gets there."""
    key = "spark.sql.codegen.fallback"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for name, spec in sorted(ALL_SPECS.items()):
            builds = [spec.build, *(b for b, *_ in spec.extra_targets.values())]
            for build in builds:
                df = build(spark, catalog, WM).persist()
                try:
                    assert df.count() >= 0, name
                finally:
                    df.unpersist()
    finally:
        spark.conf.set(key, saved)
