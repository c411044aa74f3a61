"""Per-site extraction rules → canonical envelopes (SURVEY.md §2.3-§2.7).

Each ``extract_*`` re-expresses one reference parser's semantics over the
flat DOM + collected scripts. Dispatch (:func:`extract_page`) probes carriers
in a fixed order — the generalized version of each reference script being
hard-wired to its site.

Envelope shapes follow the reference goldens exactly (SURVEY.md §1.1):
detail  {success, url, result_count, detail{...}, remaining_credits}
SERP    {success, search, page, total_results, result_count, results[]}
"""

from __future__ import annotations

import json
import re
from typing import Callable, Optional

from ..htmlkit.tokenizer import FlatDOM, tokenize
from ..htmlkit import selectors as S
from ..extract import carriers as C
from ..extract.jsonpath import get_from_json as gj
from ..extract import fields as F

__all__ = ["extract_page", "EXTRACTORS"]


def _canonical_url(dom: FlatDOM, fallback: Optional[str]) -> Optional[str]:
    node = S.select_one(dom, 'link[rel="canonical"]')
    href = dom.attr(node, "href") if node is not None else None
    return F.strip_query(href) if href else fallback


def _envelope(url: Optional[str], detail: dict) -> dict:
    # 1.samsclub/parse_samsclub.py:225-232,470-472 fixed envelope.
    return {
        "success": True,
        "url": url,
        "result_count": 1,
        "detail": detail,
        "remaining_credits": None,
    }


# -- nextdata-detail (walmart/parse_walmart-2.py) ---------------------------

# T3 key-drop projection (walmart/parse_walmart-2.py:79-81).
_W2_KEYS_TO_DROP = frozenset([
    "arExperience", "genAiDetails", "chokingHazards", "esrbRating",
    "mpaaRating", "product360ImageContainer", "hasMarketingDescription",
    "sizeChart", "longDescription", "shortDescription",
])

# T4 fixed key order (walmart/parse_walmart-2.py:152-164).
_W2_KEY_ORDER = [
    "id", "name", "brand", "url", "images", "price", "currency",
    "currency_symbol", "is_subscription", "offer_text", "rating",
    "total_ratings", "total_reviews", "in_stock", "categories",
    "description", "key_features", "seller_name", "seller_url",
    "est_delivery_date", "returns_info",
]


def extract_nextdata_detail(dom: FlatDOM, scripts: list, url: str) -> Optional[dict]:
    data = C.json_script_by_id(scripts, "__NEXT_DATA__")
    prod = gj(data, ["props", "pageProps", "initialData", "data", "product"])
    if prod is None:
        return None
    idml = gj(data, ["props", "pageProps", "initialData", "data", "idml"]) or {}
    vmap = prod.get("variantsMap") or {}
    variants = [
        {"type": "Color", "value": k,
         "available": gj(v, ["availabilityStatus"]) == "IN_STOCK"}
        for k, v in vmap.items()
    ] or None
    detail = {
        "id": prod.get("usItemId"),
        "product_id": prod.get("usItemId"),
        "name": prod.get("name"),
        "brand": prod.get("brand"),
        "price": gj(prod, ["priceInfo", "currentPrice", "price"]),
        "list_price": gj(prod, ["priceInfo", "wasPrice", "price"]),
        "currency": gj(prod, ["priceInfo", "currentPrice", "currencyUnit"]),
        "currency_symbol": "$",
        "rating": prod.get("averageRating"),
        "total_ratings": prod.get("numberOfRatings"),
        "total_reviews": prod.get("numberOfReviews"),
        "description": idml.get("shortDescription") or prod.get("shortDescription"),
        "images": [i.get("url") for i in gj(prod, ["imageInfo", "allImages"]) or []],
        # Committed goldens (walmart_detail*.json) carry {name, url} dicts
        # with the walmart.com prefix (ref :30-31 builds them from the DOM
        # breadcrumbs; the NEXT_DATA category.path carries the same pairs).
        "categories": [
            {"name": c.get("name"),
             "url": (f"https://www.walmart.com{c.get('url')}"
                     if c.get("url") else None)}
            for c in gj(prod, ["category", "path"]) or []],
        "variants": variants,
        "in_stock": prod.get("availabilityStatus") == "IN_STOCK",
        "url": _canonical_url(dom, url),
    }
    # idml projection: T3 drop → T2 snake_case → T17 nutrition restructure
    # (walmart/parse_walmart-2.py:79-109).
    for key, value in idml.items():
        if key in _W2_KEYS_TO_DROP:
            continue
        new_key = F.camel_to_snake(key)
        if new_key == "nutrition_facts" and isinstance(value, dict):
            detail[new_key] = F.restructure_nutrition(value)
        elif new_key == "product_highlights" and isinstance(value, list):
            detail[new_key] = [
                {k: v for k, v in h.items() if k != "iconURL"} for h in value
            ]
        else:
            detail[new_key] = value
    # key_features: longDescription fragment, ul→list else plain text (:144-151).
    long_html = idml.get("longDescription")
    if long_html:
        frag = tokenize(long_html)
        lis = F.parse_ul(frag)
        detail["key_features"] = lis if lis else (
            F.collapse_ws(frag.node_text(0)) or None)
    # seller / delivery / returns (:116-132).
    detail["seller_name"] = prod.get("sellerName", "")
    detail["seller_url"] = (
        f"https://www.walmart.com/seller/{prod.get('sellerId', '')}")  # :116
    fs = prod.get("fulfillmentSummary")
    dd = gj(fs, [0, "deliveryDate"]) if fs else None
    detail["est_delivery_date"] = dd.split("T")[0] if dd else None  # T7
    detail["returns_info"] = gj(prod, ["returnPolicy", "returnPolicyText"])
    detail = F.order_keys(detail, _W2_KEY_ORDER)  # T4
    env = _envelope(detail["url"], detail)
    # Blocked/interstitial page variant: walmart-2 assumes the FIRST ld+json
    # blob is the Product object (ref :23,:56 `json_data_list[0].get(...)`)
    # and CRASHES when a bot-challenge page serves a list there — exactly
    # the two walmart_detail_error_* fixtures. We extract what we can from
    # __NEXT_DATA__ but surface the row as degraded (north_rule: errors
    # never fail the job; tests/test_reference_fixtures.py pins this).
    ld_texts = C.script_by_type(scripts, "application/ld+json")
    if ld_texts:
        try:
            first = json.loads(ld_texts[0])
        except ValueError:
            first = None
        if not isinstance(first, dict):
            env["_degraded"] = ("first ld+json blob is not a Product object "
                                "(bot-challenge page variant)")
    return env


# -- nextdata-serp (walmart/parse_walmart.py) -------------------------------

_WM_BASE = "https://www.walmart.com"  # walmart/parse_walmart.py:90,98


def _wm_url(path) -> Optional[str]:
    """Base-join a stripped canonicalUrl. The reference's f-string renders
    the literal 'https://www.walmart.comNone' when the key is absent
    (parse_walmart.py:90 has no None guard); no committed golden exercises
    the missing-key case, so emit None rather than the concat artifact."""
    p = F.strip_query(path)
    return f"{_WM_BASE}{p}" if p is not None else None


def extract_nextdata_serp(dom: FlatDOM, scripts: list, url: str) -> Optional[dict]:
    """walmart/parse_walmart.py twin — verified field-exact against all
    three committed golden pairs (walmart_mustard.html ↔ walmart-mustard.json,
    walmart_mustard_page_2.html ↔ walmart_search_page_2.json,
    walmart_search.html ↔ walmart_search.json;
    tests/test_reference_fixtures.py). ``no_of_pages`` is golden-anchored:
    the parser script leaves it None (:46) but every committed golden has
    ceil(total_results / ps) with ps from paginationV2.pageProperties."""
    from urllib.parse import urlparse, urlunparse

    data = C.json_script_by_id(scripts, "__NEXT_DATA__")
    sr = gj(data, ["props", "pageProps", "initialData", "searchResult"])
    if sr is None:
        return None
    items = gj(sr, ["itemStacks", 0, "items"]) or []
    # J7 JSON-in-JSON: identityNextTenants is a JSON *string* field
    # (walmart/parse_walmart.py:49-62).
    tenants_str = gj(data, ["props", "pageProps", "bootstrapData", "cv",
                            "identity", "_all_", "identityNextTenants"])
    currency_code = None
    if tenants_str:
        try:
            currency_code = json.loads(tenants_str).get("currency")
        except (ValueError, AttributeError):
            pass
    results = []
    for it in items:
        if it.get("__typename") != "Product":  # Q7 filter
            continue
        thumb = gj(it, ["imageInfo", "thumbnailUrl"])
        image_url = (urlunparse(urlparse(thumb)._replace(query=""))
                     if thumb is not None else None)  # ref :73-74
        # Per-item variants map<str, list[struct]> (ref :76-92). Golden-
        # anchored details: the key is the criterion name's last _-token
        # ("number_of_pieces" → "pieces"), in_stock is the availability
        # flag (the script's in_stock:=name is a bug the goldens don't
        # carry), price stays a None placeholder.
        variants = {}
        for vc in it.get("variantCriteria") or []:
            variants[(vc.get("name") or "").split("_")[-1]] = [
                {"name": a.get("name"),
                 "images": a.get("images"),
                 "swatch_image": a.get("swatchImageUrl"),
                 "in_stock": a.get("availabilityStatus") == "AVAILABLE",
                 "price": None,
                 "id": gj(a, ["selectedProduct", "usItemId"]),
                 "model_no": gj(a, ["products", 0]),
                 "url": _wm_url(gj(a, ["selectedProduct", "canonicalUrl"]))}
                for a in vc.get("variantList") or []
            ]
        # est_delivery_date: first non-null deliveryDate over the
        # fulfillmentSummary entries (DELIVERY may be null while PICKUP
        # carries the date), date part only.
        dd = next((e.get("deliveryDate")
                   for e in it.get("fulfillmentSummary") or []
                   if e.get("deliveryDate")), None)
        # Rollback pricing: when wasPrice is set the golden reports
        # price=wasPrice and price_reduced=current line price.
        was = F.parse_money(gj(it, ["priceInfo", "wasPrice"]))
        cur = it.get("price") or None  # 0 is the page's null placeholder
        results.append({
            "id": it.get("usItemId"),
            "name": it.get("name"),
            # Golden-anchored: committed goldens strip the canonicalUrl
            # query (?classType=…) and date-only the delivery timestamp,
            # and carry None where the page has '' / 0 placeholder values.
            "url": _wm_url(it.get("canonicalUrl")),
            "price_reduced": cur if was is not None else None,
            "price": was if was is not None else cur,
            "currency_code": currency_code,
            "offer_msg": gj(it, ["priceInfo", "priceRangeString"]) or None,
            "rating": gj(it, ["rating", "averageRating"]) or None,
            "total_reviews": gj(it, ["rating", "numberOfReviews"]) or None,
            "in_stock": not it.get("isOutOfStock"),
            "model_no": it.get("id"),
            "description": it.get("description") or None,
            "image_url": image_url,
            "thumbnail": thumb,
            "seller_name": it.get("sellerName"),
            "is_sponsored": it.get("isSponsoredFlag"),
            "variants": variants,
            "est_delivery_date": dd.split("T")[0] if dd else None,  # T7
        })
    q = gj(data, ["props", "pageProps", "initialSearchQueryVariables"]) or {}
    total = sr.get("aggregatedCount")
    ps = gj(sr, ["paginationV2", "pageProperties", "ps"])
    no_of_pages = None
    if total is not None and ps:
        no_of_pages = -(-int(total) // int(ps))
    return {
        "success": True,
        "search": q.get("query"),
        "page": q.get("page"),
        "total_results": total,
        "no_of_pages": no_of_pages,
        "result_count": len(results),  # R5
        "results": results,
        "meta_data": {},
        "remaining_credits": None,
    }


# -- redux-detail (1.samsclub/parse_samsclub.py:206-472) --------------------

def extract_redux_detail(dom: FlatDOM, scripts: list, url: str) -> Optional[dict]:
    state = C.json_script_by_id(scripts, "tb-djs-wml-redux-state")
    if state is None:
        return None
    products = gj(state, ["cache", "products"]) or {}
    if not products:
        # Redux state present but productless (empty shell / bot-challenge
        # variant — three of the reference's own snapshots): the reference
        # CRASHES at list(products.values())[0] (:219); we surface a
        # degraded row instead (north_rule: errors never fail the job).
        env = _envelope(_canonical_url(dom, url), {})
        env["_degraded"] = ("redux state has no cache.products "
                            "(empty-shell page variant)")
        return env
    prod = next(iter(products.values()))  # first product (:218-219)
    # HTML fragments inside JSON fields (P3): spec fragment (X3/X4/T16/X6)
    # + shortDescription ul.
    spec_html = gj(prod, ["manufacturingInfo", "specification"])
    specifications = additional_details = None
    if spec_html:
        specifications, additional_details = F.normalize_specs(
            F.parse_html_as_data(tokenize(spec_html)))  # :341-384
    short_html = gj(prod, ["descriptors", "shortDescription"])
    features = F.parse_ul(tokenize(short_html)) if short_html else None
    # Images: FIRST productImages entry regardless of key (:220-221 — real
    # pages key it "prod…-000…", not the productId); messages live on the
    # product (:222), not the top-level state.
    product_images = state.get("productImages") or {}
    images_entry = (next(iter(product_images.values()), {}) or {}
                    ).get("images", [])
    messages = prod.get("messages") or []

    def message(key: str) -> Optional[str]:
        # Q6 first-match message-key lookup (:394-404).
        for m in messages:
            if m.get("key") == key:
                return m.get("value")
        return None

    sku = gj(prod, ["skus", 0]) or {}
    offer = sku.get("onlineOffer") or {}
    detail = {
        "product_id": prod.get("productId"),
        "sku_id": sku.get("skuId"),
        "upc": offer.get("generatedUPC"),
        "gtin": offer.get("gtin"),
        "item_no": offer.get("itemNumber"),
        "model_no": gj(prod, ["manufacturingInfo", "model"]),
        "name": gj(prod, ["descriptors", "name"]),
        "brand": gj(prod, ["manufacturingInfo", "brand"]),
        "price": gj(offer, ["price", "finalPrice", "amount"]),
        "list_price": gj(offer, ["price", "listPrice", "amount"]),
        "price_per_unit": gj(offer, ["price", "unitPrice", "amount"]),
        "currency": gj(offer, ["price", "finalPrice", "currency"]),
        "currency_symbol": "$",
        "rating": gj(prod, ["reviewsAndRatings", "avgRating"]),
        "total_ratings": gj(prod, ["reviewsAndRatings", "numRatings"]),
        "total_reviews": gj(prod, ["reviewsAndRatings", "numReviews"]),
        "description": gj(prod, ["descriptors", "longDescription"]),
        "main_image": gj(images_entry, [0, "ImageUrl"]),
        "images": [i.get("ImageUrl") for i in images_entry],
        "categories": gj(prod, ["category", "path"]),
        "specifications": specifications,
        "in_stock": None,
        "url": _canonical_url(dom, url),
        "features": features,
    }
    if additional_details:
        detail["additional_details"] = additional_details
    # T14 weight / dimensions composites (:288-331).
    logistics = sku.get("skuLogistics")
    weight = (logistics or {}).get("weight")
    if weight:
        detail["weight"] = (
            f"{weight.get('value')} {weight.get('unitOfMeasure')}"
            if weight.get("value") and weight.get("unitOfMeasure") else None)
        detail["weight_data"] = {"value": weight.get("value"),
                                 "unit": weight.get("unitOfMeasure")}
    else:
        detail["weight"] = detail["weight_data"] = None
    if logistics:
        length = logistics.get("length") or {}
        width = logistics.get("width") or {}
        height = logistics.get("height") or {}
        if all(d.get("value") and d.get("unitOfMeasure")
               for d in (length, width, height)):
            detail["dimensions"] = (
                f"{length.get('value')}L x {width.get('value')}W x "
                f"{height.get('value')}H {length.get('unitOfMeasure')}")
        else:
            detail["dimensions"] = None
        detail["dimensions_data"] = {
            "box_count": logistics.get("numberOfBoxes"),
            "length": {"value": length.get("value"),
                       "unit": length.get("unitOfMeasure")},
            "width": {"value": width.get("value"),
                      "unit": width.get("unitOfMeasure")},
            "height": {"value": height.get("value"),
                       "unit": height.get("unitOfMeasure")},
            "is_hazardous": logistics.get("hazardMaterial"),
        }
    else:
        detail["dimensions"] = detail["dimensions_data"] = None
    # Savings → buying_offers (:335-347).
    savings = gj(offer, ["price", "savings"])
    if not isinstance(savings, dict):  # hostile JSON: non-dict savings
        savings = None
    detail["buying_offers"] = {
        "amount_saved": savings.get("savingsAmount"),
        "type": gj(savings, ["memberPromotions", 0, "type"]),
        "max_quantity": savings.get("householdLimit"),
        "start_date": savings.get("startDate"),
        "end_date": savings.get("endDate"),
    } if savings else None
    # Manufacturing / shipping / pickup / returns (:385-414).
    warranty_html = gj(prod, ["manufacturingInfo", "warranty"])
    detail["warranty"] = (
        tokenize(warranty_html).node_text(0).strip() if warranty_html else "")
    detail["country_of_origin"] = gj(prod, ["manufacturingInfo",
                                            "componentCountry"])
    detail["assembled_in"] = gj(prod, ["manufacturingInfo",
                                       "assembledCountry"])
    detail["shipping_info"] = [gj(prod, ["shippingOption", "info"]),
                               message("sidesheet.shipping.upsell.message")]
    detail["curbside_pickup"] = message("channelbanner.pickup.message")
    return_info = sku.get("returnInfo")
    detail["returns"] = {
        "location": return_info.get("returnLocation"),
        "days": return_info.get("returnDays"),
        "policy_text": return_info.get("returnDescription"),
        "policy_link": return_info.get("returnLinkUrl"),
    } if return_info else None
    # R3 nested-loop → hash-join variant build (:428-455).
    detail["variants"] = F.join_variant_criteria(
        gj(prod, ["variantSummary", "variantCriteria"]),
        gj(prod, ["variantSummary", "variantInfoMap"])) or None
    # Breadcrumbs (:457-468).
    breadcrumbs = gj(prod, ["category", "breadcrumbs"])
    detail["breadcrumbs"] = [
        {"name": gj(a, ["displayName"]), "url": gj(a, ["seoUrl"]),
         "nav_id": gj(a, ["navId"])}
        for a in breadcrumbs
    ] if breadcrumbs else None
    return _envelope(detail["url"], detail)


# -- nextprops-detail (bedbathbeyond/parse_bedbathbeyond.py) ----------------

_BB_IMG_PREFIX = "https://ak1.ostkcdn.com/images/products/"  # ref :150
# Golden-pinned content prefix (first-example.json categories/product_guides
# urls; parse_bedbathbeyond.py:144,278) — parity surface, like ostkcdn above.
_BB_SITE = "https://www.bedbathandbeyond.com"


def extract_nextprops_detail(dom: FlatDOM, scripts: list, url: str) -> Optional[dict]:
    """bedbathbeyond/parse_bedbathbeyond.py twin — verified field-exact
    against the committed golden (first-example.json ↔ both
    bedbathbeyond_detail_2024-12-19_14-50-32.html and …12-18_16-28-22.html,
    tests/test_reference_fixtures.py) for every golden detail key except
    the two with documented content/vintage drift (description,
    verified_purchase — see the test's evidence). Golden-vintage choices
    kept where the golden disagrees with the current parser code:
    envelope keys the request url as 'product_url' (the current parser
    writes 'url'=htmlUrl; golden predates), variants omit 'selector' when
    the viewer join misses (golden predates the key; on both committed
    pages oViewerImagesIds is null so the join misses), and an empty
    meta.zipCode string maps to None (golden carries null)."""
    data = C.json_script_by_id(scripts, "__NEXT_DATA__")
    pp = gj(data, ["props", "pageProps"]) or {}
    prod = pp.get("product")
    if prod is None:
        return None
    pr = pp.get("initialPowerReviews") or {}
    hist = prod.get("ratingCounts") or {}  # ref :102 product.ratingCounts
    # X2 DOM-child state machine over the description fragment (:162-191),
    # with the per-child fragment re-parse expressed as node_text.
    frag = tokenize(prod.get("description") or "")
    description, features, dimensions = F.sectionize_children(frag)
    # R2 equi-join: option.oViewerImagesIds -> oViewerImages.id (:199-218).
    viewer = {i.get("id"): i.get("cdnPath")
              for i in prod.get("oViewerImages") or []}
    variants = []
    for o in prod.get("options") or []:
        v = {"option_id": o.get("optionId"),
             # sic: the reference reads the misspelled 'decription' key (:205)
             "description": o.get("decription"),
             "price": o.get("price"),
             "listing_price": o.get("comparePrice"),
             "in_stock": o.get("isInStock"),
             "url": None}
        # R2 equi-join option.oViewerImagesIds -> oViewerImages.id (:199-218);
        # 'selector' only when the join resolves — the committed golden
        # predates the key, and on its pages the ids are null (join miss).
        if (cp := viewer.get(o.get("oViewerImagesIds"))) is not None:
            v["selector"] = _BB_IMG_PREFIX + cp
        variants.append(v)
    # Financing offers with fragment-parsed messageHtml (:80-98; the
    # reference key is the singular 'financingOffer').
    buying_offers = []
    for offer in pp.get("financingOffer") or pp.get("financingOffers") or []:
        msg_html = gj(offer, ["html", "messageHtml"])
        buying_offers.append({
            "offer_type": gj(offer, ["data", "financingOfferType"]),
            "offer_description": (tokenize(msg_html).node_text(0).strip()
                                  if msg_html else None),
            "price": None,
            "seller": None,
        })
    attributes = gj(prod, ["specificationAttributes", "attributeGroups", 0,
                           "attributes"]) or []
    overview = [{"name": a.get("label"), "value": a.get("values")}
                for a in attributes]
    # list_price: comparePrice of the defaultOptionId option (ref :68-73).
    default_opt = prod.get("defaultOptionId")
    list_price = None
    for o in prod.get("options") or []:
        if o.get("optionId") == default_opt:
            list_price = o.get("comparePrice")
    detail = {
        "listing_id": prod.get("id"),                  # ref :66
        "name": prod.get("name"),                      # ref :59
        "brand": prod.get("brandName"),
        "price": prod.get("memberPrice"),              # ref :75
        "list_price": list_price,
        "currency": gj(pp, ["meta", "dataLayer", "order_currency"]),  # :78
        "currency_symbol": gj(prod, ["priceSet", 0, "symbol"]),  # ref :79
        "rating": F.weighted_rating(hist),      # T18
        "total_ratings": sum(int(v) for v in hist.values()),  # :108
        "total_reviews": gj(pr, ["paging", "total_results"]),
        # ref :62 seeds jsonLdDescription, :192-193 overrides with the
        # sectionizer output when non-empty.
        "description": description or prod.get("jsonLdDescription") or None,
        "shipping_info": gj(pp, ["config", "shipping"]),       # ref :113
        # ref :114 meta.zipCode; live pages carry '' where the golden
        # pins null — coerce empty to None (golden vintage).
        "delivery_zipcode": gj(pp, ["meta", "zipCode"]) or None,
        "variant": {"option_id": default_opt},                 # ref :137
        "main_image": gj(pp, ["meta", "dataLayer",
                              "product_image_url", 0]),  # ref :47,148
        "images": [_BB_IMG_PREFIX + (i.get("cdnPath") or "")
                   for i in prod.get("oViewerImages") or []],
        "labelled_images": None,                               # ref :153
        # ref :139-151: categories come from crossSell[0].tiles, with the
        # literal f-string join that keeps the '//c/...' double slash.
        "categories": [
            {"name": s.get("subcategory_title"),
             "url": f"{_BB_SITE}/{s.get('subcategory_url')}"}
            for s in gj(pp, ["crossSell", 0, "tiles"]) or []],
        "specifications": prod.get("specifications"),
        "variants": variants or None,
        "in_stock": prod.get("isInStock"),
        "url": gj(prod, ["meta", "htmlUrl"]) or _canonical_url(dom, url),
        "features": features,
        "dimensions": dimensions,
        "overview": overview or None,
        "buying_offers": buying_offers,
        "country_of_origin": prod.get("countryOfOrigin"),
        # PowerReviews aspects (:246-268).
        "review_aspects": [
            {"name": gj(r, ["details", "nickname"]),
             "headline": gj(r, ["details", "headline"]),
             "comments": gj(r, ["details", "comments"]),
             "rating": gj(r, ["metrics", "rating"]),
             "helpful_votes": gj(r, ["metrics", "helpful_votes"]),
             "not_helpful_votes": gj(r, ["metrics", "not_helpful_votes"]),
             "helpful_score": gj(r, ["metrics", "helpful_score"]),
             "verified_purchase": gj(r, ["badges", "is_verified_buyer"])}
            for r in gj(pr, ["results", 0, "reviews"]) or []],
        # Product guides (:270-282).
        "product_guides": [
            {"text": c.get("contentName"),
             "url": f"{_BB_SITE}{c.get('contentUrl')}"}
            for c in prod.get("productContents") or []] or None,
    }
    detail["details_table"] = detail["overview"]
    # Golden-vintage envelope: 'product_url' carries the REQUEST url
    # (query intact — first-example.json pins ?refccid=…&option=…); the
    # current parser writes 'url'=htmlUrl instead, but the golden wins.
    return {
        "success": True,
        "product_url": url,
        "result_count": 1,
        "detail": detail,
        "remaining_credits": None,
    }


# -- inline-js-detail (costco/parse_costco.py) ------------------------------

def extract_inline_js_detail(dom: FlatDOM, scripts: list, url: str) -> Optional[dict]:
    """costco/parse_costco.py twin. The three inline-JS carriers live in
    DIFFERENT <script> elements on the real pages (verified on
    costco_{1..4}.html): the adobeProductData scalars (priceMax/priceMin/
    pid/sku, ref :47-64), the ``var products``/``var options`` nested
    arrays (:288-300), and the itemDetailsList image list (:125-132) —
    so each is located by its own marker, exactly as the reference's
    per-marker script loops do. Deliberate normalizations vs the raw
    reference output (documented so parity review can discount them):
    money/quantity strings parse to numbers (T5/T6/T8), empty lists
    normalize to None, and the reference's misspelled
    ``additional_demensions`` key (:202) is spelled correctly."""
    script = C.script_containing(scripts, "priceMax")  # Q3 loop+break
    if script is None:
        return None
    price = F.parse_money(C.regex_scalar(script, r"priceMax\s*:\s*'(.*?)'"))
    pid = C.regex_scalar(script, r"pid\s*:\s*'(.*?)'")
    sku = C.regex_scalar(script, r"sku\s*:\s*'(.*?)'")
    # price_listing ← priceMin (ref :53-55; distinct from priceMax on
    # multi-variant pages, e.g. costco_1 799.99 vs 1249.99).
    price_listing = F.parse_money(
        C.regex_scalar(script, r"priceMin\s*:\s*'(.*?)'"))
    list_price = F.parse_money(
        F.decode_b64(C.regex_scalar(script, r"priceListTotal\s*:\s*'(.*?)'")))
    # Variants carrier: var products = [ [ {...} ] ]; the ref pattern
    # (:290-291) captures the INNER array. Same script carries options.
    vscript = C.script_containing(scripts, "var products = [")
    prods = C.regex_json(vscript, r"var\s*products\s*=\s*\[\s*(\[.*?\])\s*\];")
    options = C.regex_json(vscript,
                           r"var\s*options\s*=\s*\[\s*(\[.*?\])\s*\];",
                           normalize_quotes=True)  # J2 + ' → " (ref :298)
    variant_options = [
        {"name": gj(o, ["n"]), "values": gj(o, ["v"])}
        for o in options or []
    ] or None
    # 9-field variant projection with base64-carried prices (ref :313-334).
    variants = [
        {"part_number": gj(v, ["partNumber"]),
         "product_url": gj(v, ["productUrl"]),
         "price": F.parse_money(F.decode_b64(gj(v, ["price"]) or None)),
         "list_price": F.parse_money(F.decode_b64(gj(v, ["listPrice"])
                                                  or None)),
         "min_quantity": F.parse_int(gj(v, ["minQty"])),
         "max_quantity": F.parse_int(gj(v, ["maxQty"])),
         "img_url": gj(v, ["img_url"]),
         "options": gj(v, ["options"]),
         "inventory": gj(v, ["inventory"])}
        for v in prods or []
    ] or None

    def meta(prop: str) -> Optional[str]:
        n = S.select_one(dom, f'meta[property="{prop}"]')
        return dom.attr(n, "content") if n is not None else None

    brand_node = S.select_one(dom, "div[itemprop=brand]")
    # Q5: <p> containing "Features:" → following sibling <ul> (:160-200).
    features = _sibling_ul_items(dom, "Features:")
    dims = _sibling_ul_items(dom, "Dimensions and Weight:")
    extra_dims = _sibling_ul_items(dom, "Additional Dimensions:")
    # Specifications section: h3.section-title → next sibling div →
    # div.row two-cell pairs (:203-219).
    specifications = None
    for h3 in S.select(dom, "h3.section-title"):
        if "Specifications" not in dom.node_text(h3):
            continue
        sib = _next_sibling(dom, h3, "div")
        if sib is not None:
            rows = [
                {"name": dom.node_text(cells[0]).strip(),
                 "value": dom.node_text(cells[1]).strip()}
                for row in S.select(dom, "div.row", root=sib)
                if len(cells := [c for c in dom.children(row)
                                 if dom.tags[c] == "div"]) == 2
            ]
            specifications = rows or None
        break
    # T19: "Includes:" — the ref takes ``contents[4]`` of the first
    # matching <p> (:160-164), which on every committed real page is the
    # TEXT NODE immediately after the <strong>Includes:</strong> marker
    # (the node list stops at the following <br/>, so the trailing
    # "Features:" label in the same <p> never leaks in). Implemented as
    # that invariant rather than a brittle positional index: find the
    # marker child, take the next non-empty #text sibling, comma-split.
    includes = None
    for p in S.select(dom, "p"):
        if "Includes:" not in dom.node_text(p):
            continue
        kids = dom.children(p)
        after = None
        seen_marker = False
        for child in kids:
            ctext = (dom.texts[child] if dom.tags[child] == "#text"
                     else dom.node_text(child)) or ""
            if seen_marker and dom.tags[child] == "#text" and ctext.strip():
                after = ctext
                break
            if "Includes:" in ctext:
                seen_marker = True
                # marker inside a text node (synthetic single-text form):
                # the remainder of that same node is the payload
                if dom.tags[child] == "#text":
                    rest = ctext.split("Includes:", 1)[1]
                    if rest.strip():
                        after = rest
                        break
        if after is not None:
            includes = [i.strip() for i in after.strip().split(",")]
        break
    # Model numbers / pills / manuals (:100-117, :222-232).
    model_numbers = [
        dom.node_text(s).strip()
        for d in S.select(dom, "div.item-model-number")
        if (s := S.select_one(dom, "span[itemprop=sku]", root=d)) is not None
    ]
    pills_root = S.select_one(dom, "div.pills-section")
    pills = [dom.node_text(d).strip()
             for d in S.select(dom, "div.single-pill", root=pills_root)
             ] if pills_root is not None else []
    manuals_root = S.select_one(dom, "figure.product-manuals")
    manuals = [
        dom.attr(a, "href")
        for li in S.select(dom, "li", root=manuals_root)
        if (a := S.select_one(dom, "a", root=li)) is not None
    ] if manuals_root is not None else []
    # Per-child text accumulation with trailing newlines (:235-260).
    warning_n = S.select_one(dom, "div.prop65warning")
    currency_n = S.select_one(dom, "span.currency")
    main_image = F.strip_query(meta("og:image"))  # T9
    detail = {
        "product_id": pid,
        "name": meta("og:title"),
        "brand": F.collapse_ws(dom.node_text(brand_node)) if brand_node else None,
        "price": price,
        "list_price": list_price,
        "price_listing": price_listing,
        "currency": (dom.node_text(currency_n).strip()
                     if currency_n is not None else "USD"),
        "currency_symbol": "$",
        "rating": None,
        "total_ratings": None,
        "total_reviews": None,
        "review_aspects": None,   # network-only in the ref (:265-268)
        "description": meta("og:description"),
        "main_image": main_image,
        # Images live in the itemDetailsList script, NOT the priceMax one
        # (separate <script> elements on all four real pages; ref :125-132
        # locates it by its own marker loop).
        "images": C.regex_all(
            C.script_containing(scripts, "itemDetailsList"),
            r"cdn_url:\s*'([^']*)',"),
        "categories": None,
        "specifications": specifications,
        "variant": None,          # always None in the ref (:274-276)
        "variant_options": variant_options,
        "variants": variants,
        "in_stock": None,
        "url": _canonical_url(dom, url),
        "sku": sku,
        "features": features or None,
        "dimensions_weight": dims or None,
        "additional_dimensions": extra_dims or None,
        "includes": includes,
        "model_numbers": model_numbers or None,
        "pills": pills or None,
        "manuals_guides": manuals or None,
        "product_label": None,   # img[alt='Product Label'] a — dead branch
                                 # in the reference (:145-150), always None
        "warning": (dom.node_text(warning_n).strip()
                    if warning_n is not None else None),
        "shipping": _contents_text(dom, "div.product-info-shipping"),
        "returns": _contents_text(dom, "div.product-info-returns"),
    }
    return _envelope(detail["url"], detail)


def _next_sibling(dom: FlatDOM, node: int, tag: str) -> Optional[int]:
    """``find_next_sibling(tag)`` (costco/parse_costco.py:165-208)."""
    sibs = dom.children(dom.parent[node])
    try:
        at = sibs.index(node)
    except ValueError:
        return None
    for s in sibs[at + 1:]:
        if dom.tags[s] == tag:
            return s
    return None


def _contents_text(dom: FlatDOM, selector: str) -> str:
    """Per-child text accumulation, each non-empty child followed by a
    newline (costco/parse_costco.py:235-260)."""
    root = S.select_one(dom, selector)
    if root is None:
        return ""
    out = []
    for child in dom.children(root):
        t = (dom.texts[child] if dom.tags[child] == "#text"
             else dom.node_text(child)) or ""
        t = t.strip()
        if t:
            out.append(t + "\n")
    return "".join(out)


def _sibling_ul_items(dom: FlatDOM, marker: str) -> list[str]:
    """find_next_sibling('ul') after EVERY <p> whose text contains marker
    (Q5). The reference loops over all matching paragraphs and appends
    (costco/parse_costco.py:167-200 — no break), so a page with two
    "Features:" paragraphs contributes both lists, in document order."""
    items: list[str] = []
    for p in S.select(dom, "p"):
        if marker not in dom.node_text(p):
            continue
        parent = dom.parent[p]
        sibs = dom.children(parent)
        try:
            at = sibs.index(p)
        except ValueError:
            continue
        for s in sibs[at + 1:]:
            if dom.tags[s] == "ul":
                items.extend(F.parse_ul(dom, s))
                break
    return items


# -- pixels-detail (overstock/parse_overstock.py) ---------------------------

_OS_MISSING_RE = re.compile(
    r"const\s+missingAttributes\s*=\s*(\{.*?\})\s*const\s+scripts", re.DOTALL)
_OS_DATALAYER_RE = re.compile(
    r"window\.salesforce\.datalayer\.product\s*=\s*(\{.*?\})\;", re.DOTALL)


def extract_pixels_detail(dom: FlatDOM, scripts: list, url: str) -> Optional[dict]:
    """overstock/parse_overstock.py twin. The four carriers live in
    DIFFERENT scripts on real pages (verified on the reference's 9
    overstock_detail_* snapshots), so every script is scanned with the
    reference's own markers (:78-110). The PowerReviews fields come from a
    NETWORK call in the reference (get_reviews, :150-156) — out of scope
    here (S3-S5), so rating/total_ratings/review_aspects stay None/[]
    unless a reviews blob is embedded in the page."""
    gate = C.script_by_id(scripts, "web-pixels-manager-setup") \
        or C.script_containing(scripts, "webPixelsManager")
    if gate is None:
        return None
    missing: dict = {}
    prod: dict = {}
    init_data: dict = {}
    product_variants: list = []
    reviews: dict = {}
    for text, attrs in scripts:
        if "const missingAttributes" in text:
            m = _OS_MISSING_RE.findall(text)
            if not m:  # single-script synthetic form (no const scripts after)
                m = re.findall(r"const missingAttributes\s*=\s*(\{.*?\})\s*\n",
                               text, re.DOTALL)
            if m:
                missing = C._loads(m[0]) or {}
        if attrs.get("id") == "web-pixels-manager-setup":
            # initData: {...} — brace-carved (the ref regex :89-92 keys on
            # a literal purchasingCompany":null suffix; carving is stable).
            pos = text.find("initData:")
            if pos >= 0:
                blob = C.carve_balanced(text, text.find("{", pos))
                init_data = C._loads(blob) or {}
            pv = re.findall(r"const productVariants\s*=\s*(\[.*?\])\s*\n",
                            text, re.DOTALL)
            if pv:
                product_variants = C._loads(pv[0]) or []
            rv = re.findall(r"const reviews\s*=\s*(\{.*?\})\s*\n",
                            text, re.DOTALL)
            if rv:
                reviews = C._loads(rv[0]) or {}
        if "window.salesforce.datalayer.product" in text:
            m = _OS_DATALAYER_RE.findall(text)
            if m:
                # ref :103 takes matches[1] (the 2nd assignment; the 1st is
                # an empty init) — fall back to the only one when single.
                prod = C._loads(m[1] if len(m) > 1 else m[0]) or {}
    if not product_variants:
        product_variants = gj(init_data, ["productVariants"]) or []
    if not prod and not missing:
        return None
    # X1 sectionizer over the description lines (:205-229).
    lines = (missing.get("description") or "").split("\n")
    buckets = F.sectionize_lines(
        lines, {"features:": "features", "dimensions:": "dimensions"})
    specifications = [
        {"name": d.split(": ", 1)[0], "value": d.split(": ", 1)[1]}
        for d in buckets["dimensions"] if ": " in d
    ] or None
    # Q8: data-URI filter + data-src fallback + https: prefix + query strip
    # (:177-189). The ref's select_one("img") is a DESCENDANT search —
    # real pages nest the <img> inside gallery-zoom-open/div/a/picture,
    # so a direct-child scan finds nothing there.
    images = []
    for li in S.select(dom, "li.media-viewer__item"):
        img = S.select_one(dom, "img", root=li)
        if img is None:
            continue
        src = dom.attr(img, "data-src") or dom.attr(img, "src")
        if src and not src.startswith("data:"):
            images.append(F.strip_query(F.prefix_url("", src)))
    rollup = gj(reviews, ["rollup"]) or {}
    detail = {
        "product_id": (str(prod.get("id")) if prod.get("id") is not None
                       else None),
        "listing_id": gj(product_variants, [0, "product", "id"]),  # ref :131
        "name": missing.get("name"),                               # ref :117
        "brand": gj(missing, ["brand", "name"]),                   # ref :118
        "price": gj(product_variants, [0, "price", "amount"]),     # ref :136
        "list_price": None,                                        # ref :133
        "currency": gj(product_variants,
                       [0, "price", "currencyCode"]),              # ref :142
        "currency_symbol": prod.get("currency"),                   # ref :143
        # PowerReviews rollup is network-fetched in the ref (:150-156);
        # embedded blob wins when present, else None offline.
        "rating": rollup.get("average_rating"),
        "total_ratings": rollup.get("rating_count"),
        "total_reviews": rollup.get("review_count"),
        "description": "".join(f"{ln}\n" for ln in buckets["description"]),
        "main_image": ("https:" + src
                       if (src := gj(product_variants, [0, "image", "src"]))
                       else None),
        "images": images,
        "categories": prod.get("taxonomyList"),                    # ref :174
        "specifications": specifications,
        "in_stock": prod.get("available"),
        "url": missing.get("url") or _canonical_url(dom, url),     # ref :119
        "features": buckets["features"] or None,
        # Raw "Dimensions:" section lines (ref :229-230 emits the list
        # itself; the name/value split below is the repo's normalized
        # ``specifications`` view of the same lines).
        "dimensions": buckets["dimensions"] or None,
        "max_quantity": gj(prod, ["inventory", 0, "quantity"]),
        "variant": ({"id": gj(product_variants, [0, "id"])}
                    if product_variants else None),
        # Full variant struct projection (overstock:240-252).
        "variants": [
            {"price": gj(v, ["price", "amount"]),
             "currency_code": gj(v, ["price", "currencyCode"]),
             "title": gj(v, ["product", "title"]),
             "vendor": gj(v, ["product", "vendor"]),
             "id": gj(v, ["id"]),
             "image": gj(v, ["image", "src"]),
             "sku": gj(v, ["sku"]),
             "variant_title": gj(v, ["title"])}
            for v in product_variants
        ] or None,
        # Overview from the datalayer attributeList (overstock:195-201,232).
        "overview": [
            {"name": gj(a, ["label"]), "value": gj(a, ["values"])}
            for a in gj(prod, ["attributeList"]) or []
        ] or None,
        # Review aspects projection (overstock:257-271).
        "review_aspects": [
            {"name": gj(r, ["details", "nickname"]),
             "headline": gj(r, ["details", "headline"]),
             "comments": gj(r, ["details", "comments"]),
             "rating": gj(r, ["metrics", "rating"]),
             "helpful_votes": gj(r, ["metrics", "helpful_votes"]),
             "not_helpful_votes": gj(r, ["metrics", "not_helpful_votes"]),
             "helpful_score": gj(r, ["metrics", "helpful_score"]),
             "is_staff_reviewer": gj(r, ["badges", "is_staff_reviewer"]),
             "is_verified_buyer": gj(r, ["badges", "is_verified_buyer"]),
             "is_verified_reviewer": gj(r, ["badges", "is_verified_reviewer"])}
            for r in gj(reviews, ["reviews"]) or []
        ] or None,
        "country_of_origin": gj(init_data, ["shop", "countryCode"]),
    }
    detail["details_table"] = detail["overview"]
    return _envelope(detail["url"], detail)


# -- escaped-component-detail (bestbuy/parse_bestbuy_detai.py) --------------

_BB_INITIAL_DATA_RE = re.compile(r'"(\{\\"app\\".*?\}\})",', re.DOTALL)


def _first_text(texts: list[str]) -> Optional[str]:
    return texts[0] if texts else None


def extract_escaped_component_detail(dom: FlatDOM, scripts: list,
                                     url: str) -> Optional[dict]:
    """bestbuy/parse_bestbuy_detai.py twin, selector-for-selector — verified
    field-exact against the reference's own saved page + golden
    (bestbuy_detail_2025-02-27_16-05-10.html ↔ bestbuy_detail.json,
    tests/test_reference_fixtures.py). ``initial_data`` (the raw carve, ref
    :154) is intentionally not emitted — the committed golden predates it."""
    if C.script_containing(scripts, "initializer.initializeComponent") is None:
        return None
    # initial_data: the script that carries BOTH markers, regex-carved and
    # double-unescaped (ref :22-28).
    initial_data: dict = {}
    for text, _attrs in scripts:
        if 'initializer.initializeComponent({' in text and '\\"UPC\\"' in text:
            m = _BB_INITIAL_DATA_RE.findall(text)
            if m:
                initial_data = C.unescape_embedded_json(m[0]) or {}
            break

    # XPath DOM fields — the reference's LITERAL XPath strings (ref :33-86)
    # compiled through the P2 subset compiler; /text() picks direct text
    # nodes, whitespace preserved (the golden keeps bs4's double spaces).
    def xtexts(xpath: str) -> list[str]:
        return [t for node in S.select(dom, S.xpath_to_css(xpath))
                for t in dom.child_texts(node)]

    name_texts = xtexts('//div[@class="sku-title"]/h1/text()')
    name = _first_text(name_texts)
    brand_texts = xtexts('//div[@class="shop-product-title"]//a/text()')
    brand = brand_texts[0].strip() if brand_texts else None
    # Ref :42 reads og:url, but the committed golden pins detail.url to the
    # REQUESTED url (the og:url on the saved page drops the intl=nosplash
    # query arg) — golden wins; fall back to og:url without a request url.
    og = S.select_one(dom, S.xpath_to_css(
        '//meta[@property="og:url"]/@content'))
    page_url = url or (dom.attr(og, "content") if og is not None else None)
    img_srcs = [
        src for i in S.select(dom, S.xpath_to_css(
            '//img[@draggable="false"]/@src'))
        if (src := dom.attr(i, "src")) is not None]
    images = (F.dedup_preserve_order([s.split(";")[0] for s in img_srcs])
              if img_srcs else None)  # R8 dedup + ;size strip (ref :46)
    price_texts = xtexts(
        '//div[@class="pricing-price"]//div[@class="priceView-hero-price '
        'priceView-customer-price"]/span/text()')
    price = (float(price_texts[0].replace("$", "").replace(",", ""))
             if price_texts else None)
    pid_m = re.findall(r"\/(\d+).p", page_url) if page_url else []
    rating_texts = xtexts(
        '//div[contains(@class, "ugc-ratings-reviews")]'
        '//span[contains(@class, "ugc-c-review-average")]/text()')
    reviews_texts = xtexts(
        '//div[contains(@class, "ugc-ratings-reviews")]'
        '//span[contains(@class, "c-reviews")]/text()')
    # T13: in_stock = any add-to-cart button text containing the CTA (:70-71).
    in_stock = any(
        "Add to Cart" in t
        for t in xtexts('//div[@class="fulfillment-add-to-cart-button"]'
                        '//button/text()'))
    # R11/R12: breadcrumb //text() zipped positionally with //@href, skip
    # the site-root crumb (ref :73-83 — including its quirk of pairing the
    # flattened text list against the per-anchor href list by index).
    crumb_anchors = S.select(dom, S.xpath_to_css(
        '//nav[@class="c-breadcrumbs"]//a[@data-track="Breadcrumb"]'))
    cat_names = [t for a in crumb_anchors for t in dom.descendant_texts(a)]
    cat_urls = [h for a in crumb_anchors
                if (h := dom.attr(a, "href")) is not None]
    categories = [{"name": c, "url": cat_urls[i]}
                  for i, c in enumerate(cat_names) if i > 0]

    # componentData scripts (ref :85-122): every getInitializer script that
    # mentions componentData, carved from the 2nd '{' to the last '}'.
    description = None
    included_items: list = []
    product_features: list = []
    energy_star = False
    model_no = None
    cd_degraded = None
    for text, _attrs in scripts:
        if "getInitializer" not in text or "componentData" not in text:
            continue
        start = text.find("{", text.find("{") + 1)
        end = text.rfind("}")
        data = C.unescape_embedded_json(text[start:end + 1])
        if not isinstance(data, dict) or "componentData" not in data.get(
                "app", {}):
            continue
        cd = data["app"]["componentData"]
        # Ref :92-120 indexes these component keys directly and would
        # crash on a page missing one, which in this pipeline downgraded
        # the whole row to status='error' and discarded the DOM fields.
        # Guard each sub-key and surface '_degraded' instead, matching
        # the walmart/samsclub partial-extraction pattern; the committed
        # golden page carries all four keys, so parity is unaffected.
        cd_missing = [k for k in ("product-description", "whats-included",
                                  "product-features",
                                  "product-energy-ratings")
                      if not isinstance(cd.get(k), dict)]
        if cd_missing:
            cd_degraded = ("componentData missing component keys: "
                           + ", ".join(cd_missing))
        pdsc = cd.get("product-description") or {}
        if pdsc.get("shouldRenderComponent"):
            frags = gj(pdsc, ["description", "longDescription",
                              "parsedHtmlFragments"]) or []
            description = " ".join(f["plainText"] for f in frags
                                   if "plainText" in f)
        winc = cd.get("whats-included") or {}
        if winc.get("shouldRenderComponent"):
            included_items = [i.get("description")
                              for i in winc.get("includedItems") or []]
        pfea = cd.get("product-features") or {}
        model_no = pfea.get("modelNumber")
        if pfea.get("shouldRenderComponent"):
            product_features = [
                {"name": f["title"], "value": f["description"]}
                for f in pfea.get("features") or []]
        pnrg = cd.get("product-energy-ratings") or {}
        if pnrg.get("shouldRenderComponent"):
            energy_star = bool(gj(pnrg, ["energyRatings",
                                         "energyStarCertified"]))

    # shop-specifications script by id-contains (ref :124-136).
    specifications: list = []
    for text, attrs in scripts:
        if "shop-specifications" in (attrs.get("id") or ""):
            specs_data = json.loads(text)
            for cat in specs_data["specifications"]["categories"]:
                specifications.extend(
                    {"type": cat["displayName"],
                     "name": it["displayName"], "value": it["value"]}
                    for it in cat["specifications"])
            break

    # upc: last displayName=="UPC" in the initial_data carve (ref :140-152
    # overwrites on every match — last wins).
    upc = None
    ini_specs = initial_data.get("specifications")
    if isinstance(ini_specs, dict) and isinstance(
            ini_specs.get("categories"), list):
        for cat in ini_specs["categories"]:
            for sub in cat.get("specifications") or [] \
                    if isinstance(cat, dict) else []:
                if isinstance(sub, dict) and \
                        sub.get("displayName") == "UPC":
                    upc = sub.get("value")

    detail = {
        "name": name,
        "brand": brand,
        "url": page_url,
        "images": images,
        "price": price,
        "currency": "USD",
        "currency_symbol": "$",
        "product_id": pid_m[0] if pid_m else None,
        "rating": float(rating_texts[0]) if rating_texts else None,
        # Ref :67 is int() after stripping parens/commas; the live span text
        # is "(1,022 Reviews)", so take the leading integer — the form that
        # reproduces the committed golden (1022).
        "total_reviews": (int(rvm.group()) if reviews_texts and
                          (rvm := re.search(r"\d+", reviews_texts[0]
                                            .replace(",", ""))) else None),
        "in_stock": in_stock,
        "categories": categories,
        "description": description,
        "included_items": included_items,
        "product_features": product_features,
        "is_energy_star_certified": energy_star,
        "model_no": model_no,
        "specifications": specifications,
        "upc": upc,
    }
    env = _envelope(url, detail)
    if cd_degraded:
        env["_degraded"] = cd_degraded
    return env


# -- webpack-detail (prev/parse_wayfair.py) ---------------------------------

def extract_webpack_detail(dom: FlatDOM, scripts: list, url: str) -> Optional[dict]:
    """prev/parse_wayfair.py twin (HotDeals detail pages) — runs on the
    reference's real wayfair_detail_* snapshots
    (tests/test_reference_fixtures.py)."""
    entry = C.webpack_entry_data(scripts)  # J5 re-keyed on marker
    pd = gj(entry, ["application", "props", "productData"])  # ref :51
    wp_degraded = None
    if pd is None:
        # Ref :49-50: a json.loads failure only logs a warning and the
        # parser "progress[es] with html content only" — the DOM selectors
        # still run. Seen on the committed …12-53-17 snapshot, whose
        # WEBPACK payload is truncated mid-JSON (9 unclosed braces, head
        # HTML spliced inside the script element). Proceed DOM-only when
        # the page is recognizably a HotDeals page; bail otherwise.
        if S.select_one(dom, "a.HotDealsProductTitle") is None:
            return None
        pd = {}
        wp_degraded = ("WEBPACK_ENTRY_DATA payload unparsable "
                       "(truncated snapshot); DOM-only extraction")
    price_data = pd.get("price")
    # Name with 2+-whitespace collapse (T12, prev/parse_wayfair.py:68-69 —
    # exactly re.sub(r'\s{2,}', ' '), single newlines survive).
    name_n = S.select_one(dom, "a.HotDealsProductTitle")
    name = (re.sub(r"\s{2,}", " ", dom.node_text(name_n).strip())
            if name_n is not None else None)
    # Main image + carousel with data-URI filter (Q8) and hi-res rewrites
    # (T11, :74-90).
    viewer = S.select_one(dom, "div.ProductDetailSingleMediaViewer")
    img_n = S.select_one(dom, "img", root=viewer) if viewer is not None else None
    main_image = dom.attr(img_n, "src") if img_n is not None else None
    images = []
    carousel = S.select_one(dom, "ul.HotDealsThumbnailCarousel-container")
    if carousel is not None:
        for li in S.select(dom, "li", root=carousel):
            im = S.select_one(dom, "img", root=li)
            u = dom.attr(im, "src") if im is not None else None
            if not u or u.startswith("data:image"):
                continue
            images.append(F.hires_image(u))  # T11 (timg/resize/compr)
    # T15 fallback chains (:96-132): JSON price → CSS regex; CSS list
    # price → JSON; JSON currency → first char of the price text.
    price = gj(price_data, ["customerPrice", "quantityPrice", "value"])
    price_n = S.select_one(dom, "div.BasePriceBlock")
    if price is None and price_n is not None:
        price = F.parse_money(dom.node_text(price_n))
    list_price = None
    lp_n = S.select_one(dom, "div.BasePriceBlock--list")
    if lp_n is not None:
        list_price = F.parse_money(dom.node_text(lp_n))
    if list_price is None:
        list_price = gj(price_data, ["listPrice", "quantityPrice", "value"])
    currency = gj(price_data, ["customerPrice", "quantityPrice", "currency"])
    if currency is None and price_n is not None:
        currency = dom.node_text(price_n).strip()[:1]
    # sku from the call-to-action form input (:142).
    sku_n = S.select_one(dom, "form.HotDealsCallToActionForm input[name=sku]")
    sku_id = dom.attr(sku_n, "value") if sku_n is not None else None
    brand_n = S.select_one(dom, "p.HotDealsProductTitle-manufacturerName")
    brand = (dom.node_text(brand_n).replace("By", "").strip()
             if brand_n is not None else None)
    # Star button: positional contents split (:153-159).
    rating = total_ratings = None
    stars_n = S.select_one(dom, "button[data-hb-id=ReviewStars]>p")
    if stars_n is not None:
        parts = [dom.texts[c] if dom.tags[c] == "#text" else dom.node_text(c)
                 for c in dom.children(stars_n)]
        try:
            rating = float(parts[0].split()[1])
            total_ratings = int(parts[2].split()[0])
        except (IndexError, ValueError):
            pass
    # R4 semi-join (selected variant) + all-options variants with
    # thumbnail-id substituted image urls (T11 variant, :179-201).
    selected = set(gj(pd, ["options", "selectedOptions"]) or [])
    variant_sel: list = []
    variants: list = []
    for cat in gj(pd, ["options", "standardOptions"]) or []:
        type_name = cat.get("category_name")
        for o in cat.get("options") or []:
            if o.get("option_id") in selected:
                variant_sel.append({"type": type_name, "value": o.get("name")})
            tid = str(o.get("thumbnail_id"))
            image_url = (re.sub(r"/\d+/\d+/", f"/{tid[:4]}/{tid}/", main_image)
                         if main_image else None)
            variants.append({"type": type_name, "value": o.get("name"),
                             "image_url": image_url})
    # Reference field set and insertion order (parse_wayfair.py:67-235);
    # the envelope keys the product link "product_url" (:57), matching the
    # committed overstock/bedbathbeyond_detail.json envelope shape.
    detail = {
        "name": name,
        "main_image": main_image,
        "images": images,
        "price": price,
        "list_price": list_price,
        "currency": currency,
        "description": None,        # prev/parse_wayfair.py:137 — hardcoded
        "sku_id": sku_id,
        "brand": brand,
        "rating": rating,
        "total_ratings": total_ratings,
        "total_reviews": None,
        "reviews": [],
        "retailer_badge": None,
        "variant": variant_sel,
        "variants": variants,
        "delivery_postal_code": gj(pd, ["delivery", "postal_code"]),
        "delivery_postal_code_city": gj(pd, ["delivery", "postal_code_city"]),
        "shipping_info": None,
        "features": None,
        "at-a-glance": None,
    }
    return {
        "success": True,
        "product_url": _canonical_url(dom, url),
        "result_count": 1,
        "detail": detail,
        "remaining_credits": None,
        **({"_degraded": wp_degraded} if wp_degraded else {}),
    }


# -- discover-detail (prev/parse_tesco_html.py) -----------------------------

def extract_discover_detail(dom: FlatDOM, scripts: list, url: str) -> Optional[dict]:
    blobs = C.json_scripts_by_type(scripts, "application/discover+json")
    cache = None
    blob_root = None
    for b in blobs:
        cache = gj(b, ["mfe-orchestrator", "props", "apolloCache"])
        if cache:
            blob_root = b
            break
    if not cache:
        return None
    prod = None
    reviews = None
    for k, v in cache.items():
        if k.startswith("ProductType:") and prod is None:
            prod = v
    if prod is None:
        return None
    # Q4: first key starting with "reviews" (:95-113).
    for k, v in cache.items():
        if k.startswith("reviews"):
            reviews = v
            break
    # isoCurrencyCode from the sibling mfe-pdp config blob
    # (prev/parse_tesco_html.py:52).
    currency = gj(blob_root, ["mfe-pdp", "props", "config", "client",
                              "isoCurrencyCode"]) or "USD"
    details_obj = prod.get("details") or {}
    pack_size = [{"value": x.get("value"), "units": x.get("units")}
                 for x in details_obj.get("packSize") or []]
    nutrition = [
        {"name": n.get("name"), "value1": n.get("value1"),
         "value2": n.get("value2"), "value3": n.get("value3"),
         "value4": n.get("value4")}
        for n in details_obj.get("nutrition") or []]
    review_rows = [
        {"rating": gj(e, ["rating", "value"]),
         "author": gj(e, ["author", "nickname"]),
         "status": e.get("status"),
         "summary": e.get("summary"),
         "text": e.get("text"),
         "is_syndicated": e.get("syndicated"),
         "syndication_source": gj(e, ["syndicationSource", "name"])}
        for e in (reviews or {}).get("entries") or []]
    detail = {
        "product_id": prod.get("id"),
        "name": prod.get("title"),
        "brand": prod.get("brandName"),
        "price": gj(prod, ["price", "actual"]),
        "list_price": None,
        "currency": currency,
        "currency_symbol": {"GBP": "£", "EUR": "€"}.get(currency, "$"),
        "rating": gj(reviews, ["stats", "overallRating"]),
        "total_ratings": None,
        "total_reviews": gj(reviews, ["stats", "noOfReviews"]),
        "description": None,
        "gtin": prod.get("gtin"),
        "image_url": prod.get("defaultImageUrl"),
        # Real Apollo caches put a typed object here, not a url list; the
        # reference only ever emits image_url (parse_tesco_html.py:47).
        "images": (prod.get("images")
                   if isinstance(prod.get("images"), list) and
                   all(isinstance(x, str) for x in prod.get("images"))
                   else None),
        "categories": [prod.get("superDepartmentName")]
        if prod.get("superDepartmentName") else None,
        "specifications": None,
        "variants": None,
        "in_stock": None,
        "url": _canonical_url(dom, url),
        "tpnb": prod.get("tpnb"),
        "tpnc": prod.get("tpnc"),
        "features": prod.get("description"),
        "pack_size": pack_size,
        "storage": details_obj.get("storage"),
        "nutrition": nutrition,
        "reviews": review_rows,
    }
    env = _envelope(detail["url"], detail)
    return env


# -- css-serp (prev/parse_mercado.py) ---------------------------------------

def _money_amount(dom: FlatDOM, root: int) -> tuple[Optional[str], Optional[float]]:
    """T5 fraction+cents assembly within a price block, cents default '00'
    (prev/parse_mercado.py:50-64)."""
    sym_n = S.select_one(dom, "span.andes-money-amount__currency-symbol",
                         root=root)
    frac_n = S.select_one(dom, "span.andes-money-amount__fraction", root=root)
    cents_n = S.select_one(dom, "span.andes-money-amount__cents", root=root)
    if frac_n is None:
        return None, None
    frac = dom.node_text(frac_n).replace(",", "").replace(".", "")
    cents = dom.node_text(cents_n) if cents_n is not None else "00"
    sym = dom.node_text(sym_n) if sym_n is not None else None
    return sym, float(f"{frac}.{cents}")


def extract_css_serp(dom: FlatDOM, scripts: list, url: str) -> Optional[dict]:
    cards = S.select(dom, "li.ui-search-layout__item")
    if not cards:
        return None
    results = []
    for li in cards:
        title_n = S.select_one(dom, "h2", root=li)
        link_n = S.select_one(dom, "a", root=li)
        img_n = S.select_one(dom, "img", root=li)
        # Q8 data-URI fallback (prev/parse_mercado.py:36-38).
        src = None
        if img_n is not None:
            src = dom.attr(img_n, "src")
            if src and src.startswith("data:image"):
                src = dom.attr(img_n, "data-src")
        brand_n = S.select_one(dom, "span.poly-component__brand", root=li)
        # Positional visually-hidden review text parse (:41-48).
        rating_value = 0.0
        rating_count = 0
        rev_n = S.select_one(dom, "div.poly-component__reviews", root=li)
        if rev_n is not None:
            hidden = S.select_one(dom, "span.andes-visually-hidden",
                                  root=rev_n)
            if hidden is not None:
                txt = dom.node_text(hidden)
                try:
                    rating_value = float(txt.split()[1].strip())
                    rating_count = int(
                        txt.splitlines()[0].split("(")[1].strip())
                except (IndexError, ValueError):
                    pass
        cur_n = S.select_one(dom, "div.poly-price__current", root=li)
        currency = price = None
        if cur_n is not None:
            currency, price = _money_amount(dom, cur_n)
        # Struck-through previous price overrides the currency (:57-64).
        listing_price = None
        prev_n = S.select_one(dom, "s.andes-money-amount--previous", root=li)
        if prev_n is not None:
            prev_sym, listing_price = _money_amount(dom, prev_n)
            if prev_sym is not None:
                currency = prev_sym
        results.append({
            "name": (F.collapse_ws(dom.node_text(title_n))
                     if title_n is not None else None),
            "image": src,
            "brand": (dom.node_text(brand_n).strip()
                      if brand_n is not None else None),
            "rating_value": rating_value,
            "rating_count": rating_count,
            "price": price,
            "listing_price": listing_price,
            # sic: the reference emits the misspelled 'currenty' key (:77)
            "currenty": currency,
            "url": (F.strip_query(dom.attr(link_n, "href"))
                    if link_n is not None else None),
        })
    return {
        "success": True,
        "result_count": len(results),
        "results": results,
    }


# -- ldjson-detail (walmart/parse_walmart-2.py parse_detail) -----------------

def extract_ldjson_detail(dom: FlatDOM, scripts: list, url: str) -> Optional[dict]:
    blobs = C.json_scripts_by_type(scripts, "application/ld+json")
    ld = blobs[0] if blobs and isinstance(blobs[0], dict) else None
    if ld is None or "brand" not in ld:
        return None
    name_n = S.select_one(dom, 'h1[itemprop="name"]')
    # T5 triple via parse_money (utils.parsers re-spec), T13 subscription.
    price_n = (S.select_one(dom, 'span[itemprop="price"]')
               or S.select_one(dom, "span.w_iUH7"))  # T15 coalesce (:39)
    price_text = dom.node_text(price_n).strip() if price_n is not None else None
    price_word = price_text.split()[-1] if price_text else None
    price, currency, symbol = F.parse_money_triple(price_word)
    # Categories as {name, url} pairs with T10 prefix (:31-33).
    categories = []
    for a in S.select(dom, "ol.w_4HBV li a"):
        categories.append({
            "name": F.collapse_ws(dom.node_text(a)),
            "url": F.prefix_url("https://www.walmarty.example.com",
                                dom.attr(a, "href")),
        })
    # Images: media-thumbnail imgs, ?query strip (:36).
    images = []
    for d in S.select(dom, 'div[data-testid="media-thumbnail"]'):
        for i in dom.iter_descendants(d):
            if dom.tags[i] == "img" and dom.attr(i, "src"):
                images.append(F.strip_query(dom.attr(i, "src")))
    agg = ld.get("aggregateRating") or {}
    # Top reviews with date reformat %B %d, %Y → %Y-%m-%d (T7, :70).
    top_reviews = []
    for rv in ld.get("review") or []:
        dt = rv.get("datePublished")
        if dt:
            from datetime import datetime
            try:
                dt = datetime.strptime(dt, "%B %d, %Y").strftime("%Y-%m-%d")
            except ValueError:
                pass
        top_reviews.append({
            "review_title": rv.get("name"),
            "review_text": rv.get("reviewBody"),
            "rating": gj(rv, ["reviewRating", "ratingValue"]),
            "date": dt,
            "reviewer_name": gj(rv, ["author", "name"]),
        })
    detail = {
        "product_id": ld.get("sku"),
        "name": (F.collapse_ws(dom.node_text(name_n))
                 if name_n is not None else None),
        "brand": gj(ld, ["brand", "name"]),
        "price": price,
        "list_price": None,
        "currency": currency,
        "currency_symbol": symbol,
        "rating": gj(agg, ["ratingValue"]),
        "total_ratings": gj(agg, ["ratingCount"]),
        "total_reviews": gj(agg, ["reviewCount"]),
        "description": ld.get("description"),
        "images": images,
        "categories": categories or None,
        "specifications": None,
        "variants": None,
        "in_stock": gj(ld, ["offers", "availability"]) == "InStock",
        "url": _canonical_url(dom, url),
        "is_subscription": bool(price_text and "month" in price_text),  # T13
        "top_reviews": top_reviews or None,
    }
    # Offer text, nested-class descent (walmart/parse_walmart-2.py:53-55).
    offer_n = S.select_one(
        dom, 'div[data-testid="postpaid-price"] div.mid-gray span.mr2')
    detail["offer_text"] = (dom.node_text(offer_n).strip()
                            if offer_n is not None else None)
    return _envelope(detail["url"], detail)


# -- webpack-serp (prev/parse_wayfair_category.py) ---------------------------

def extract_webpack_serp(dom: FlatDOM, scripts: list, url: str) -> Optional[dict]:
    entry = C.webpack_entry_data(scripts)
    grid = gj(entry, ["application", "props", "browse", "browse_grid_objects"])
    if grid is None:
        return None
    img_n = S.select_one(dom, 'img[data-hb-id="FluidImage"]')
    base_src = dom.attr(img_n, "src") if img_n is not None else None
    results = []
    for g in grid:
        image_url = None
        ireid = gj(g, ["image_data", "ireid"])
        if ireid is not None and base_src:
            # T11: thumbnail-id substitution + hi-res rewrite (:46-50).
            ireid = str(ireid)
            image_url = re.sub(r"/\d+/\d+/", f"/{ireid[:4]}/{ireid}/", base_src)
            image_url = re.sub(r"resize-h\d+(?:-w\d+)?", "resize-h800-w800",
                               image_url)
        pricing = gj(g, ["raw_pricing_data", "pricing"])
        results.append({
            "sku": g.get("sku"),
            "url": g.get("url"),
            "name": g.get("product_name"),
            "manufacturer": g.get("manufacturer"),
            "image_url": image_url,
            "free_ship_text": g.get("free_ship_text"),
            "average_overall_rating": g.get("average_overall_rating"),
            "review_count": g.get("review_count"),
            "features": g.get("features_array"),
            "romance_copy": g.get("romance_copy"),
            "customer_price": gj(pricing, ["customerPrice", "quantityPrice", "value"]),
            "everyday_price": gj(pricing, ["everydayPrice", "quantityPrice", "value"]),
            "list_price": gj(pricing, ["listPrice", "quantityPrice", "value"]),
            "currency": gj(pricing, ["customerPrice", "quantityPrice", "currency"]),
        })
    return {
        "success": True,
        "result_count": len(results),  # R5
        "results": results,
    }


# -- apijson-reviews (prev/parse_tesco.py) -----------------------------------

def extract_apijson_reviews(dom: FlatDOM, scripts: list,
                            url: str) -> Optional[dict]:
    """Raw reviews-API JSON body → flat normalized dict, field-for-field
    per prev/parse_tesco.py:18-55 (including its ``syndication_soure_name``
    typo key and the flat non-envelope output shape). Verified on the
    reference's real tesco_reviews_raw.json
    (tests/test_reference_fixtures.py)."""
    if scripts:
        return None
    raw = "".join(dom.texts[i] or "" for i in range(len(dom))
                  if dom.tags[i] == "#text").strip()
    if not raw.startswith("["):
        return None
    try:
        data = json.loads(raw)
    except ValueError:
        return None
    if not (isinstance(data, list) and data
            and isinstance(data[0], dict)
            and gj(data[0], ["data", "reviews"]) is not None):
        return None
    rv = data[0]["data"]["reviews"]
    out = {
        "offset": rv["info"]["offset"],
        "total": rv["info"]["total"],
        "page": rv["info"]["page"],
        "count": rv["info"]["count"],
        "product_tpnb": rv["product"]["tpnb"],
        "product_tpnc": rv["product"]["tpnc"],
        "overall_rating": rv["stats"]["overallRating"],
        "overall_rating_range": rv["stats"]["overallRatingRange"],
        "no_of_reviews": rv["stats"]["noOfReviews"],
        "review_list": [
            {"review_id": e["reviewId"],
             "submission_time": e["submissionDateTime"],
             "rating_value": e["rating"]["value"],
             "rating_range": e["rating"]["range"],
             "author_name": e["author"]["nickname"],
             "is_authored_by_me": e["author"]["authoredByMe"],
             "status": e["status"],
             "summary": e["summary"],
             "text": e["text"],
             "is_syndicated": e["syndicated"],
             # sic: the reference's misspelled output key (:50)
             "syndication_soure_name": e["syndicationSource"]["name"]}
            for e in rv["entries"]
        ],
    }
    return out


# -- apijson-serp (homedepot/parse_homedepot_json.py) ------------------------

def extract_apijson_serp(dom: FlatDOM, scripts: list, url: str) -> Optional[dict]:
    """Raw JSON body (S2 source: site API dump used as the page payload)."""
    if scripts:
        return None
    from ..htmlkit.tokenizer import TEXT
    raw = "".join(dom.texts[i] or "" for i in range(len(dom))
                  if dom.tags[i] == TEXT).strip()
    if not raw.startswith(("{", "[")):
        return None
    try:
        data = json.loads(raw)
    except ValueError:
        return None
    if not isinstance(data, dict) or "products" not in data:
        return None
    results = []
    for prod in data.get("products") or []:
        results.append({
            "id": prod.get("code"),
            "name": prod.get("name"),
            "model_no": prod.get("modelNumber"),
            "url": F.prefix_url("https://www.homedepot.ca",  # ref :47
                                prod.get("url")),  # T10
            "brand": prod.get("brand"),
            "thumbnails": [prod.get("imageUrl")],
            "price": gj(prod, ["pricing", "displayPrice", "value"]),
            "price_reduced": None,
            "currency": gj(prod, ["pricing", "displayPrice", "currencyIso"]),
            "rating": gj(prod, ["productRating", "averageRating"]),
            "total_reviews": gj(prod, ["productRating", "totalReviews"]),
            "favorite_count": None,
            "inventory_quantity": None,
        })
    return {
        "success": True,
        "store_no": None,
        "zipcode": None,
        "search": gj(data, ["searchReport", "currentKeyword"]),
        "page": None,
        "total_results": gj(data, ["searchReport", "totalProducts"]),
        "no_of_pages": None,
        "result_count": len(results),
        "results": results,
        "meta_data": data.get("metadata"),
        "remaining_credits": None,
    }


# Ordered dispatch table: (profile name, extractor). Site-specific carriers
# come BEFORE the generic ld+json fallback: real pages carry several
# carriers at once (the reference bestbuy snapshot has both an
# initializeComponent payload and an application/ld+json block), and the
# most specific marker must win.
EXTRACTORS: list[tuple[str, Callable]] = [
    ("redux-detail", extract_redux_detail),
    ("nextprops-detail", extract_nextprops_detail),
    ("nextdata-serp", extract_nextdata_serp),
    ("nextdata-detail", extract_nextdata_detail),
    ("discover-detail", extract_discover_detail),
    ("webpack-detail", extract_webpack_detail),
    ("webpack-serp", extract_webpack_serp),
    ("escaped-component-detail", extract_escaped_component_detail),
    ("pixels-detail", extract_pixels_detail),
    ("inline-js-detail", extract_inline_js_detail),
    ("css-serp", extract_css_serp),
    ("apijson-serp", extract_apijson_serp),
    ("apijson-reviews", extract_apijson_reviews),
    ("ldjson-detail", extract_ldjson_detail),
]


def extract_page(dom: FlatDOM, scripts: list,
                 url: str) -> tuple[Optional[str], Optional[dict]]:
    """Try extractors in order; return (profile, envelope) or (None, None)."""
    for name, fn in EXTRACTORS:
        try:
            env = fn(dom, scripts, url)
        except Exception:
            env = None
        if env is not None:
            return name, env
    return None, None
