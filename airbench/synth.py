"""Seeded input synthesis for the benchmark's workloads (numpy + pyarrow).

The same seed writes the same tables. `etl(dir, seed)` writes the raw
`listings`/`reviews` the ETL lifecycle extracts; `query_tables(dir)` writes
the `events` and `documents` tables of the driver testdata schema
(TESTDATA.md) at sf0.01, following the recipe of `graft.GenData`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

AMENITIES = ["Wifi", "Kitchen", "Air conditioning", "Heating", "Washer", "Dryer",
             "Free parking on premises", "Pool", "Hot tub", "TV", "Cable TV", "Essentials",
             "Shampoo", "Hangers", "Hair dryer", "Iron", "Laptop friendly workspace",
             "Smoke alarm", "Carbon monoxide alarm", "Fire extinguisher", "First aid kit",
             "Elevator", "Gym", "Breakfast", "Coffee maker", "Refrigerator", "Microwave",
             "Dishes and silverware", "Cooking basics", "Oven", "Stove", "Bed linens",
             "Extra pillows and blankets", "Long term stays allowed", "Luggage dropoff allowed",
             "Patio or balcony", "Private entrance", "Lockbox", "Self check-in", "Hot water",
             "Dedicated workspace", "Room-darkening shades", "Ethernet connection",
             "Pets allowed", "Crib", "Bathtub", "Garden or backyard", "BBQ grill",
             "Security cameras on property", "Building staff"]
ROOM_TYPES = ["Entire home/apt", "Private room", "Hotel room", "Shared room"]
PROPERTY_TYPES = ["Entire rental unit", "Private room in home", "Entire condo", "Entire loft",
                  "Entire home", "Private room in rental unit", "Entire serviced apartment",
                  "Room in hotel", "Casa particular", "Apartment", "House", "Loft",
                  "Room in boutique hotel", "Shared room in hostel", "Tiny home"]
BARRIOS = ["Cuauhtémoc", "Miguel Hidalgo", "Benito Juárez", "Coyoacán", "Álvaro Obregón",
           "Tlalpan", "Iztapalapa", "Gustavo A. Madero", "Azcapotzalco", "Venustiano Carranza",
           "Iztacalco", "Xochimilco", "La Magdalena Contreras", "Cuajimalpa de Morelos",
           "Tláhuac", "Milpa Alta"]
FLAGS = ["t", "f", "t", "f", "true", "false", "si", "no"]
EN_WORDS = ["the", "flat", "was", "very", "nice", "and", "clean", "location", "host", "great",
            "good", "stay", "place", "would", "recommend", "excellent", "amazing", "perfect",
            "wonderful", "dirty", "bad", "terrible", "noisy", "small", "room", "city", "close",
            "to", "everything", "comfortable"]
ES_WORDS = ["el", "departamento", "muy", "bonito", "y", "limpio", "ubicación", "anfitrión",
            "bueno", "excelente", "perfecto", "maravilloso", "lugar", "recomiendo", "estancia",
            "cerca", "de", "todo", "cómodo", "sucio", "malo", "terrible", "horrible", "ruidoso",
            "pequeño", "ciudad", "la", "casa", "con", "para"]
DOC_VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value", "data",
             "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order",
             "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
             "batch"]

# The reference notebook's listings count is 26,401 and its logged run has
# 50,000 reviews; the benchmark runs a tenth of that shape. An ETL pass at
# this size is almost all fixed planning and job overhead, which a larger
# shape would not remove but would make one run exceed its time budget.
ETL_LISTINGS = 2640
ETL_REVIEWS = 5000


def _write(table, path):
    pq.write_table(table, path)
    return os.path.getsize(path)


def _pick(rng, xs, n, skewed=False):
    u = rng.random(n)
    idx = np.floor((u * u if skewed else u) * len(xs)).astype(int)
    return np.array(xs, dtype=object)[idx]


def _dates(rng, n, start, days, bad_share):
    d = np.datetime64(start) + rng.integers(0, days, n).astype("timedelta64[D]")
    iso = np.datetime_as_string(d, unit="D").astype(object)
    fmt = rng.integers(0, 10, n)
    out = iso.copy()
    slash = fmt == 0
    out[slash] = [f"{s[8:10]}/{s[5:7]}/{s[0:4]}" for s in iso[slash]]
    out[fmt == 1] = iso[fmt == 1] + "T12:00:00"
    out[rng.random(n) < bad_share] = "fecha desconocida"
    return out


def _nullable(values, mask):
    out = np.array(values, dtype=object)
    out[mask] = None
    return out


def etl_knobs(seed):
    """Per-seed shares, each from a narrow range so the work per pass stays
    comparable across seeds."""
    r = np.random.default_rng([seed, 1])
    return {"amenities_mean": 18 + int(r.integers(0, 5)), "comment_words": 20 + int(r.integers(0, 5)),
            "spanish_share": 0.30 + 0.10 * r.random(), "null_share": 0.01 + 0.01 * r.random(),
            "dup_share": 0.01 + 0.01 * r.random(), "bad_price_share": 0.02 + 0.02 * r.random(),
            "bad_date_share": 0.02 + 0.02 * r.random()}


def listings(seed, n=ETL_LISTINGS):
    k = etl_knobs(seed)
    rng = np.random.default_rng([seed, 2])
    dups = round(n * k["dup_share"])
    total = n + dups
    ids = np.concatenate([np.arange(n), rng.integers(0, n, dups)])
    null_kind = np.where(rng.random(total) < k["null_share"], rng.integers(0, 3, total), -1)
    n_amen = np.maximum(1, k["amenities_mean"] - 8 + rng.integers(0, 17, total))
    amen = ['["' + '", "'.join(_pick(rng, AMENITIES, m)) + '"]' for m in n_amen]
    price = np.array([f"${p:,.2f}" for p in np.floor(150 + rng.random(total) ** 3 * 20000)], dtype=object)
    bad = rng.random(total) < k["bad_price_share"]
    price[bad] = _pick(rng, ["N/A", "gratis", "consultar"], int(bad.sum()))
    bedrooms = rng.integers(0, 5, total).astype(float)
    beds = rng.integers(0, 7, total).astype(float)
    cols = {
        "id": pa.array(_nullable(ids, null_kind == 0), type=pa.int64()),
        "latitude": pa.array(_nullable(19.2 + rng.random(total) * 0.4, null_kind == 1), type=pa.float64()),
        "longitude": pa.array(_nullable(-99.3 + rng.random(total) * 0.4, null_kind == 2), type=pa.float64()),
        "price": pa.array(price, type=pa.string()),
        "host_since": pa.array(_dates(rng, total, "2010-01-01", 5000, k["bad_date_share"]), type=pa.string()),
        "calendar_last_scraped": pa.array(_dates(rng, total, "2025-06-01", 120, k["bad_date_share"]), type=pa.string()),
        "last_scraped": pa.array(_dates(rng, total, "2025-06-01", 120, k["bad_date_share"]), type=pa.string()),
        "amenities": pa.array(amen, type=pa.string()),
        "room_type": pa.array(_pick(rng, ROOM_TYPES, total, skewed=True), type=pa.string()),
        "property_type": pa.array(_pick(rng, PROPERTY_TYPES, total, skewed=True), type=pa.string()),
        "host_is_superhost": pa.array(_pick(rng, FLAGS, total), type=pa.string()),
        "host_identity_verified": pa.array(_pick(rng, FLAGS, total), type=pa.string()),
        "has_availability": pa.array(_pick(rng, ["t", "f"], total), type=pa.string()),
        "accommodates": pa.array(rng.integers(1, 9, total), type=pa.int64()),
        "bedrooms": pa.array(_nullable(bedrooms, rng.random(total) < 0.05), type=pa.float64()),
        "beds": pa.array(_nullable(beds, rng.random(total) < 0.05), type=pa.float64()),
        "minimum_nights": pa.array(rng.integers(1, 31, total), type=pa.int64()),
        "maximum_nights": pa.array(rng.integers(0, 3, total) * 365 + 30, type=pa.int64()),
        "availability_30": pa.array(rng.integers(0, 31, total), type=pa.int64()),
        "availability_60": pa.array(rng.integers(0, 61, total), type=pa.int64()),
        "availability_90": pa.array(rng.integers(0, 91, total), type=pa.int64()),
        "availability_365": pa.array(rng.integers(0, 366, total), type=pa.int64()),
        "neighbourhood_cleansed": pa.array(_pick(rng, BARRIOS, total, skewed=True), type=pa.string()),
        "name": pa.array([f"  Depto {b} #{i}  " for b, i in
                          zip(_pick(rng, ["Roma", "Condesa", "Polanco", "Centro"], total), range(total))],
                         type=pa.string()),
        "description": pa.array([f"A lovely place to stay, description {i}" for i in range(total)],
                                type=pa.string()),
    }
    return pa.table(cols)


def reviews(seed, n=ETL_REVIEWS, n_listings=ETL_LISTINGS):
    k = etl_knobs(seed)
    rng = np.random.default_rng([seed, 3])
    dups = round(n * k["dup_share"])
    total = n + dups
    ids = np.concatenate([np.arange(n), rng.integers(0, n, dups)])
    null_kind = np.where(rng.random(total) < k["null_share"], rng.integers(0, 2, total), -1)
    n_words = np.maximum(1, k["comment_words"] - 12 + rng.integers(0, 25, total))
    spanish = rng.random(total) < k["spanish_share"]
    comments = np.array([" ".join(_pick(rng, ES_WORDS if es else EN_WORDS, m))
                         for m, es in zip(n_words, spanish)], dtype=object)
    comments[rng.random(total) < 0.01] = None
    names = [f"{a} {b}" for a, b in zip(_pick(rng, ["maría", "JOSÉ", "ana luisa", "o'brien", "juan"], total),
                                        rng.integers(0, 1000, total))]
    return pa.table({
        "id": pa.array(_nullable(ids, null_kind == 0), type=pa.int64()),
        "listing_id": pa.array(_nullable(rng.integers(0, n_listings, total), null_kind == 1), type=pa.int64()),
        "date": pa.array(_dates(rng, total, "2016-01-01", 3500, k["bad_date_share"]), type=pa.string()),
        "reviewer_id": pa.array(rng.integers(0, 400000, total), type=pa.int64()),
        "reviewer_name": pa.array(names, type=pa.string()),
        "comments": pa.array(comments, type=pa.string()),
    })


def etl(out, seed):
    """Writes `listings.parquet`/`reviews.parquet` under `out`; returns bytes."""
    os.makedirs(out, exist_ok=True)
    return (_write(listings(seed), os.path.join(out, "listings.parquet"))
            + _write(reviews(seed), os.path.join(out, "reviews.parquet")))


def documents(n=500, dup_share=0.05):
    """GenData's recipe: 10-100 words uniform over a 30-word vocabulary; a
    planted share of docs copy a non-dup base doc and append " dup"."""
    rng = np.random.default_rng([0, 4])
    lens = rng.integers(10, 101, n)
    words = [" ".join(_pick(rng, DOC_VOCAB, m)) for m in lens]
    is_dup = rng.random(n) < dup_share
    bases = np.flatnonzero(~is_dup)
    text = [words[rng.choice(bases)] + " dup" if d else w for w, d in zip(words, is_dup)]
    lang = np.where(rng.random(n) < 0.41, "en", _pick(rng, ["zh", "es", "fr", "de"], n))
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(lang.astype(object), type=pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in text], type=pa.int64()),
    })


def events(n=10000, n_users=150):
    """Jan 2024 events: uniform microsecond timestamps over 30 days,
    exponential values (mean 50), five uniform event types."""
    rng = np.random.default_rng([0, 5])
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(0, 30 * 86400 * 10**6, n).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), type=pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), type=pa.int64()),
        "event_type": pa.array(_pick(rng, ["signup", "purchase", "view", "click", "error"], n), type=pa.string()),
        "value": pa.array(np.round(-50.0 * np.log(1.0 - rng.random(n)), 2), type=pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], type=pa.string()),
    })


def query_tables(out):
    """Writes `events.parquet`/`documents.parquet` under `out`; returns bytes."""
    os.makedirs(out, exist_ok=True)
    return (_write(events(), os.path.join(out, "events.parquet"))
            + _write(documents(), os.path.join(out, "documents.parquet")))
