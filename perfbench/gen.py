"""Seeded input generator: an Adult-shaped census table and hourly event files.

Everything the engine sees comes from here, as parquet written with pyarrow,
so the same ``seed`` always yields byte-identical inputs. Quasi-identifier
values are skewed (Adult-like marginals), so most rows sit in large
equivalence classes while a tail of rare (age, race, region) combinations
forms classes below k — both the kept and the suppressed path carry data.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKCLASS = ["Private", "Self-emp-not-inc", "Local-gov", "State-gov", "Self-emp-inc",
             "Federal-gov", "Without-pay", "Never-worked"]
WORKCLASS_P = [0.74, 0.08, 0.065, 0.04, 0.035, 0.03, 0.006, 0.004]
EDUCATION = ["HS-grad", "Some-college", "Bachelors", "Masters", "Assoc-voc", "11th",
             "Assoc-acdm", "10th", "7th-8th", "Prof-school", "9th", "12th", "Doctorate",
             "5th-6th", "1st-4th", "Preschool"]
EDUCATION_P = [0.323, 0.224, 0.164, 0.053, 0.042, 0.036, 0.033, 0.029, 0.02, 0.017,
               0.016, 0.013, 0.013, 0.01, 0.005, 0.002]
MARITAL = ["Married-civ-spouse", "Never-married", "Divorced", "Separated", "Widowed",
           "Married-spouse-absent", "Married-AF-spouse"]
MARITAL_P = [0.46, 0.33, 0.136, 0.031, 0.03, 0.012, 0.001]
OCCUPATION = ["Prof-specialty", "Craft-repair", "Exec-managerial", "Adm-clerical", "Sales",
              "Other-service", "Machine-op-inspct", "Transport-moving", "Handlers-cleaners",
              "Farming-fishing", "Tech-support", "Protective-serv", "Priv-house-serv",
              "Armed-Forces"]
OCCUPATION_P = [0.135, 0.133, 0.132, 0.123, 0.119, 0.107, 0.065, 0.052, 0.045, 0.032,
                0.03, 0.021, 0.0055, 0.0005]
RACE = ["White", "Black", "Asian-Pac-Islander", "Amer-Indian-Eskimo", "Other"]
RACE_P = [0.855, 0.096, 0.031, 0.01, 0.008]
SEX = ["Male", "Female"]
SEX_P = [0.67, 0.33]
REGION = ["South-Atlantic", "Pacific", "East-North-Central", "Mid-Atlantic", "West-South-Central",
          "Mountain", "West-North-Central", "East-South-Central", "New-England"]
REGION_P = [0.2, 0.17, 0.15, 0.13, 0.12, 0.08, 0.07, 0.05, 0.03]
ZIP3_PER_REGION = 40

EVENT_TYPES = ["view", "click", "search", "add_to_cart", "purchase", "signup", "refund", "chargeback"]
EVENT_TYPE_P = [0.55, 0.25, 0.12, 0.05, 0.02, 0.0088, 0.0009, 0.0003]
EVENT_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

CENSUS_FILES = 4

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def _pick(rng: np.random.Generator, values: list[str], p: list[float], n: int) -> np.ndarray:
    probs = np.asarray(p, dtype=float)
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=probs / probs.sum())]


def census_table(seed: int, n_rows: int) -> pa.Table:
    """The census relation: ``person_id, age, workclass, education, marital,
    occupation, race, sex, region, zip3, hours, income``."""
    rng = np.random.default_rng([seed, 1])
    age = np.clip(17 + rng.gamma(2.2, 9.5, n_rows), 17, 90).astype(np.int32)
    edu_idx = rng.choice(len(EDUCATION), size=n_rows, p=np.asarray(EDUCATION_P) / sum(EDUCATION_P))
    region_idx = rng.choice(len(REGION), size=n_rows, p=np.asarray(REGION_P) / sum(REGION_P))
    # zip3 within a region: Zipf-like, so a few dense and many sparse prefixes
    zip_rank = np.minimum(rng.zipf(1.6, n_rows), ZIP3_PER_REGION) - 1
    zip3 = np.char.zfill((100 + region_idx * ZIP3_PER_REGION + zip_rank).astype(str), 3)
    hours = np.clip(np.rint(rng.normal(40.5, 12.0, n_rows)), 1, 99).astype(np.int32)
    # income loosely follows education level and age, as in Adult
    edu_score = np.asarray([3, 4, 6, 8, 4, 1, 5, 1, 0, 9, 0, 1, 9, 0, 0, 0])[edu_idx]
    logit = -4.2 + 0.35 * edu_score + 0.035 * (np.minimum(age, 60) - 17) + 0.02 * (hours - 40)
    income = np.where(rng.random(n_rows) < 1.0 / (1.0 + np.exp(-logit)), ">50K", "<=50K")
    return pa.table({
        "person_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "age": pa.array(age),
        "workclass": pa.array(_pick(rng, WORKCLASS, WORKCLASS_P, n_rows), pa.string()),
        "education": pa.array(np.asarray(EDUCATION, dtype=object)[edu_idx], pa.string()),
        "marital": pa.array(_pick(rng, MARITAL, MARITAL_P, n_rows), pa.string()),
        "occupation": pa.array(_pick(rng, OCCUPATION, OCCUPATION_P, n_rows), pa.string()),
        "race": pa.array(_pick(rng, RACE, RACE_P, n_rows), pa.string()),
        "sex": pa.array(_pick(rng, SEX, SEX_P, n_rows), pa.string()),
        "region": pa.array(np.asarray(REGION, dtype=object)[region_idx], pa.string()),
        "zip3": pa.array(zip3.astype(object), pa.string()),
        "hours": pa.array(hours),
        "income": pa.array(income.astype(object), pa.string()),
    })


def write_census(seed: int, n_rows: int, path: str) -> None:
    """Write the census table as ``CENSUS_FILES`` parquet files under ``path``."""
    table = census_table(seed, n_rows)
    os.makedirs(path, exist_ok=True)
    step = -(-n_rows // CENSUS_FILES)
    for i in range(CENSUS_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:02d}.parquet"))


def event_slice(seed: int, index: int, n_rows: int, n_users: int, hours: int = 1) -> pa.Table:
    """Events of file ``index``: ``hours`` consecutive event-time hours
    starting ``index * hours`` hours after ``EVENT_EPOCH``, in time order
    across files so no event ever arrives behind the watermark."""
    rng = np.random.default_rng([seed, 2, index])
    start_us = int(EVENT_EPOCH.timestamp() * 1e6) + index * hours * 3_600_000_000
    offs = np.sort(rng.integers(0, hours * 3_600_000_000, n_rows))
    etype = _pick(rng, EVENT_TYPES, EVENT_TYPE_P, n_rows)
    value = np.round(rng.exponential(25.0, n_rows), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype=np.int64) + index * n_rows),
        "ts": pa.array(start_us + offs, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, n_users, n_rows, dtype=np.int64)),
        "event_type": pa.array(etype, pa.string()),
        "value": pa.array(value),
        "props": pa.array(np.full(n_rows, "{}", dtype=object), pa.string()),
    }, schema=EVENTS_SCHEMA)


def write_event_file(seed: int, index: int, n_rows: int, n_users: int, path: str) -> None:
    pq.write_table(event_slice(seed, index, n_rows, n_users), path)
