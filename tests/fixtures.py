"""Synthetic bronze fixtures per FIXTURES.md §1 — dirty values included on
purpose (bad times, garbage reference numbers, prefix-duplicate locations,
null publish dates)."""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from service_alerts_connector_spark.enrichment.geocode import StubGeocoder
from service_alerts_connector_spark.enrichment.llm import StubLLMClient

RAW_ALERTS = [
    {
        "Id": 23121,
        "Title1": "Water Off",
        "Service_x0020_Area12": "Water & Sanitation",
        "Description12": "Leak on Main Road near the school",
        "Subtitle": "Main Pipe burst/Unplanned emergency maintenance",
        "Planned_x0020_Unplanned": "Unplanned",
        "Area": "SONEIKE II",
        "Areatype": "Official Planning Suburb",
        "Address_x0020_Location_x0020_2": "PAUL KRUGER, SONEIKE II",
        "All_x0020_Location_x0020_Selected": "Woudenberg street",
        "Publish_x0020_Date": "2024-02-13T22:00:00Z",
        "Effective_x0020_Date": "2024-02-13T22:00:00Z",
        "Alert_x0020_Expiry_x0020_Date": "2024-02-15T22:00:00Z",
        "Start_x0020_Time": "06:00",
        "Forecast_x0020_End_x0020_Time": "14:00",
        "Reference_x0020_No": "9116963417",
        "Status12": "Open",
        "_ingest_seq": 0,
    },
    {
        # dirty time strings: 24:60 -> repaired minute, garbage end time
        "Id": 23122,
        "Title1": "Power Outage",
        "Service_x0020_Area12": "Electricity",
        "Description12": "Cable fault in Parklands",
        "Subtitle": None,
        "Planned_x0020_Unplanned": "Planned",
        "Area": "PARKLANDS",
        "Areatype": "Electricity Service Region",
        # location is a prefix of description -> must fall back to selected
        "Address_x0020_Location_x0020_2": "Cable fault",
        "All_x0020_Location_x0020_Selected": "Parklands Main Rd",
        "Publish_x0020_Date": "2024-02-14T06:00:00Z",
        "Effective_x0020_Date": "2024-02-14T06:00:00Z",
        "Alert_x0020_Expiry_x0020_Date": "2024-02-14T18:00:00Z",
        "Start_x0020_Time": "23:60",
        "Forecast_x0020_End_x0020_Time": "garbage",
        "Reference_x0020_No": "n/a",
        "Status12": "Assigned",
        "_ingest_seq": 1,
    },
    {
        # rollover: end <= start -> next day; "Select..." start time
        "Id": 23123,
        "Title1": "Water maintenance",
        "Service_x0020_Area12": "Water & Sanitation",
        "Description12": "Planned valve replacement",
        "Subtitle": "Planned maintenance",
        "Planned_x0020_Unplanned": "Planned",
        "Area": "CITYWIDE",
        "Areatype": "Citywide",
        "Address_x0020_Location_x0020_2": None,
        "All_x0020_Location_x0020_Selected": "",
        "Publish_x0020_Date": "2024-02-10T08:00:00Z",
        "Effective_x0020_Date": "2024-02-10T08:00:00Z",
        "Alert_x0020_Expiry_x0020_Date": "2024-02-20T08:00:00Z",
        "Start_x0020_Time": "Select...",
        "Forecast_x0020_End_x0020_Time": "22:00",
        "Reference_x0020_No": "",
        "Status12": "Crew on Site",
        "_ingest_seq": 2,
    },
    {
        # overnight work: end time before start time -> rolls to next day (F4b)
        "Id": 23125,
        "Title1": "Night work",
        "Service_x0020_Area12": "Roads & Transport",
        "Description12": "Overnight resurfacing",
        "Subtitle": None,
        "Planned_x0020_Unplanned": "Planned",
        "Area": "DURBANVILLE",
        "Areatype": "Official Planning Suburb",
        "Address_x0020_Location_x0020_2": "Wellington Rd",
        "All_x0020_Location_x0020_Selected": None,
        "Publish_x0020_Date": "2024-02-11T10:00:00Z",
        "Effective_x0020_Date": "2024-02-12T00:00:00Z",
        "Alert_x0020_Expiry_x0020_Date": "2024-02-13T00:00:00Z",
        "Start_x0020_Time": "20:00",
        "Forecast_x0020_End_x0020_Time": "06:00",
        "Reference_x0020_No": "1234567890",
        "Status12": "Open",
        "_ingest_seq": 4,
    },
    {
        # null publish date -> dropped at the gate (P2)
        "Id": 23124,
        "Title1": "Ghost alert",
        "Service_x0020_Area12": "Roads",
        "Description12": "Should be dropped",
        "Subtitle": None,
        "Planned_x0020_Unplanned": "Unplanned",
        "Area": "NOWHERE",
        "Areatype": None,
        "Address_x0020_Location_x0020_2": None,
        "All_x0020_Location_x0020_Selected": None,
        "Publish_x0020_Date": None,
        "Effective_x0020_Date": "2024-02-14T06:00:00Z",
        "Alert_x0020_Expiry_x0020_Date": "2024-02-14T18:00:00Z",
        "Start_x0020_Time": "06:00",
        "Forecast_x0020_End_x0020_Time": "07:00",
        "Reference_x0020_No": None,
        "Status12": "Open",
        "_ingest_seq": 3,
    },
]

NOTIFICATIONS = [
    {"ReferenceNumber": "009116963417"},
    {"ReferenceNumber": "000000000001"},
    {"ReferenceNumber": None},
]


def sharepoint_demo_fetcher():
    """Injectable OData fetcher for the Python DataSource tests: dirty
    items straight off the wire — ``__metadata`` blobs, nested objects,
    nulls, a row with no Id, a row with no publish date."""
    return [
        {
            "__metadata": {"type": "SP.Data.Item"},
            "Id": 900,
            "Title1": "Fetched alert",
            "Service_x0020_Area12": "Water & Sanitation",
            "Publish_x0020_Date": "2024-03-01T08:00:00Z",
            "Attachments": [{"href": "x"}],  # nested list -> dropped
            "Status12": "Open",
        },
        {
            "Id": 901,
            "Title1": "No publish date",  # P2 gate drops this row
            "Publish_x0020_Date": None,
        },
        {
            "Title1": "No Id at all",  # normalize drops this row
            "Publish_x0020_Date": "2024-03-01T09:00:00Z",
        },
        {
            "Id": 902,
            "Title1": "Second fetched alert",
            "Service_x0020_Area12": "Electricity",
            "Publish_x0020_Date": "2024-03-02T10:00:00Z",
            "Status12": "Assigned",
        },
    ]


def jobs_launched(spark, fn) -> int:
    """Spark jobs (driver round trips) ``fn()`` launches."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    fn()
    return scheduler.numTotalJobs() - before


def unscannable_layer(spark):
    """A (name, WKT) layer whose scan fails the job, to show that a plan
    does no Spark work on it."""

    def fail(batches):
        raise RuntimeError("layer scanned")
        yield  # pragma: no cover

    return spark.range(1).mapInPandas(fail, "name string, WKT string")


# Service doubles that log one line per call to a file: clients are pickled
# into Python workers, so an in-memory counter would see no worker call.
@dataclass(frozen=True)
class CountingLLM:
    path: str
    mode: str = "draft"

    def complete(self, prompt: str, temperature: float) -> str:
        with open(self.path, "a") as f:
            f.write("call\n")
        return StubLLMClient(self.mode).complete(prompt, temperature)


@dataclass(frozen=True)
class CountingGeocoder:
    path: str

    def geocode(self, query: str):
        with open(self.path, "a") as f:
            f.write(query + "\n")
        return StubGeocoder().geocode(query)


def calls(path) -> list[str]:
    """The lines a counting double logged, one per call."""
    p = Path(path)
    return p.read_text().splitlines() if p.exists() else []
