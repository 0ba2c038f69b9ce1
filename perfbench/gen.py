"""Seeded raw-listings generator for the benchmark's price-pipeline.

``listings(out_dir, scale, seed)`` writes raw Airbnb-style listings as
``train.parquet`` and ``test.parquet`` in the engine's
``Listings.rawSchema`` shape, including the three literal dirty
zipcodes and the regex-dirty zipcode forms that ``CleanPipeline``
removes or repairs.  At ``scale=1`` it has the reference job's raw size
(99,569 rows: 74,111 train / 25,458 test) and its clean count (38,499
rows).  ``manifest.json`` states the clean count the pipeline must
produce.  The same arguments always give byte-identical data.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _pick(values, n, rng):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n)]


# --------------------------------------------------------------- listings

REF_RAW, REF_TEST, REF_NULL_ROWS = 99_569, 25_458, 61_067
DIRTY_ZIPCODES = [
    "1m",
    "95202\r\r\r\r\r\r\n\r\r\r\r\r\r\n\r\r\r\r\r\r\n94158",
    "11249\r\r\r\r\r\r\n11249"]
PROPERTY_TYPES = ["Apartment", "Condominium", "Guesthouse", "House", "Other"]
ROOM_TYPES = ["Entire home/apt", "Private room", "Shared room"]
BED_TYPES = ["Airbed", "Couch", "Futon", "Pull-out Sofa", "Real Bed"]
POLICIES = ["flexible", "moderate", "strict", "super_strict_30", "super_strict_60"]
CITIES = ["Boston", "Chicago", "DC", "LA", "NYC", "SF"]
# columns that may hold the row's one null; dropna removes such rows
NULLABLE = ["bathrooms", "first_review", "host_response_rate", "last_review",
            "neighbourhood", "review_scores_rating", "thumbnail_url",
            "bedrooms", "beds"]


def listing_sizes(scale):
    n_raw = int(round(REF_RAW * scale))
    n_test = int(round(REF_TEST * scale))
    n_null = int(round(REF_NULL_ROWS * scale))
    return {"raw": n_raw, "train": n_raw - n_test, "test": n_test,
            "null_rows": n_null, "dirty_rows": len(DIRTY_ZIPCODES),
            "expected_clean": n_raw - n_null - len(DIRTY_ZIPCODES)}


def listings(out_dir, scale, seed):
    os.makedirs(out_dir, exist_ok=True)
    size = listing_sizes(scale)
    n = size["raw"]
    r = _rng(seed, 11)
    order = r.permutation(n)
    null_rows = order[:size["null_rows"]]
    dirty_rows = order[size["null_rows"]:size["null_rows"] + size["dirty_rows"]]
    null_col = np.full(n, -1)
    null_col[null_rows] = r.integers(0, len(NULLABLE), len(null_rows))

    zip_kind = r.integers(0, 4, n)
    zip_digit = r.integers(0, 10, n)
    zips = np.where(zip_kind == 0, "0210", np.where(zip_kind == 1, "0210",
                    "6061")).astype(object) + zip_digit.astype(str).astype(object)
    zips = np.where(zip_kind == 1, zips + "-12",
                    np.where(zip_kind == 2, zips + ".0", zips)).astype(object)
    zips[dirty_rows] = DIRTY_ZIPCODES

    prop = _pick(PROPERTY_TYPES, n, r)
    room = _pick(ROOM_TYPES, n, r)
    accommodates = r.integers(1, 9, n)
    bedrooms = 1.0 + r.integers(0, 4, n)
    # price carries feature signal (capacity, room type, property type)
    # so a model can beat the naive mean, as the reference's models do
    log_price = (3.0 + 0.18 * accommodates + 0.15 * bedrooms
                 + np.where(room == "Entire home/apt", 0.5, 0.0)
                 + np.where(prop == "House", 0.2, 0.0)
                 + r.standard_normal(n) * 0.25)
    host_since = [f"20{y}-{m:02d}-{d:02d}" for y, m, d in zip(
        r.integers(10, 22, n), r.integers(1, 13, n), r.integers(1, 29, n))]
    tf = np.array(["f", "t"], dtype=object)
    ids = np.arange(n)

    def maybe_null(name, values):
        vals = np.asarray(values, dtype=object).copy()
        vals[null_col == NULLABLE.index(name)] = None
        return vals

    i64, f64, s, b = pa.int64(), pa.float64(), pa.string(), pa.bool_()
    cols = {
        "id": pa.array(ids, i64),
        "log_price": pa.array(log_price, f64),
        "property_type": pa.array(prop, s),
        "room_type": pa.array(room, s),
        "amenities": pa.array(['{"Wireless Internet","Air conditioning",Kitchen}'] * n, s),
        "accommodates": pa.array(accommodates, i64),
        "bathrooms": pa.array(maybe_null("bathrooms", 1.0 + r.integers(0, 3, n)), f64),
        "bed_type": pa.array(_pick(BED_TYPES, n, r), s),
        "cancellation_policy": pa.array(_pick(POLICIES, n, r), s),
        "cleaning_fee": pa.array(r.random(n) < 0.5, b),
        "city": pa.array(_pick(CITIES, n, r), s),
        "description": pa.array([f"desc {k} some text" for k in ids], s),
        "first_review": pa.array(maybe_null("first_review", ["2017-01-01"] * n), s),
        "host_has_profile_pic": pa.array(tf[r.integers(0, 2, n)], s),
        "host_identity_verified": pa.array(tf[r.integers(0, 2, n)], s),
        "host_response_rate": pa.array(maybe_null("host_response_rate", [
            f"{v}%" for v in r.integers(50, 101, n)]), s),
        "host_since": pa.array(host_since, s),
        "instant_bookable": pa.array(tf[r.integers(0, 2, n)], s),
        "last_review": pa.array(maybe_null("last_review", ["2021-01-01"] * n), s),
        "latitude": pa.array(34.0 + r.random(n), f64),
        "longitude": pa.array(-118.0 - r.random(n), f64),
        "name": pa.array([f"listing {k}" for k in ids], s),
        "neighbourhood": pa.array(maybe_null("neighbourhood", [
            f"hood_{v}" for v in r.integers(0, 40, n)]), s),
        "number_of_reviews": pa.array(r.integers(0, 300, n), i64),
        "review_scores_rating": pa.array(maybe_null(
            "review_scores_rating", 60.0 + r.integers(0, 41, n)), f64),
        "thumbnail_url": pa.array(maybe_null("thumbnail_url", [
            f"http://img/{k}.jpg" for k in ids]), s),
        "zipcode": pa.array(zips, s),
        "bedrooms": pa.array(maybe_null("bedrooms", bedrooms), f64),
        "beds": pa.array(maybe_null("beds", 1.0 + r.integers(0, 5, n)), f64),
    }
    table = pa.table(cols)
    is_test = np.zeros(n, dtype=bool)
    is_test[r.permutation(n)[:size["test"]]] = True
    pq.write_table(table.filter(pa.array(~is_test)),
                   os.path.join(out_dir, "train.parquet"))
    pq.write_table(table.filter(pa.array(is_test)),
                   os.path.join(out_dir, "test.parquet"))
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(dict(size, scale=scale, seed=int(seed)), f, sort_keys=True)
    return size
