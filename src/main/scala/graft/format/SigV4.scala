package graft.format

import java.nio.charset.StandardCharsets.UTF_8
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter
import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

/** AWS Signature Version 4 request signing on the bare JDK — a public
  * protocol specification (the "Authenticating Requests (AWS Signature
  * Version 4)" chapter of the S3 API reference), used by [[S3FileIO]]
  * for every request, its conditional-PUT snapshot publish included.
  * No vendor SDK.
  */
private[format] object SigV4 {

  private val tsFmt =
    DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(ZoneOffset.UTC)
  private val dayFmt =
    DateTimeFormatter.ofPattern("yyyyMMdd").withZone(ZoneOffset.UTC)

  /** RFC 3986 percent-encode UTF-8 BYTES (never UTF-16 chars — a
    * surrogate pair must encode as one code point's bytes). `keepSlash`
    * preserves key separators for canonical URIs.
    */
  def uriEncode(s: String, keepSlash: Boolean): String =
    s.getBytes(UTF_8).map { b =>
      val c = b & 0xff
      val unreserved = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~' ||
        (keepSlash && c == '/')
      if (unreserved) c.toChar.toString else f"%%$c%02X"
    }.mkString

  /** Signed headers for one request. `query` holds decoded
    * (name, value) pairs; payloadHash is hex(sha256(body)).
    */
  def headers(method: String, canonicalUri: String,
      query: Seq[(String, String)], host: String, payloadHash: String,
      now: java.time.Instant, region: String,
      accessKey: String, secretKey: String): Map[String, String] = {
    val ts = tsFmt.format(now)
    val day = dayFmt.format(now)
    val canonicalQuery = query
      .map { case (k, v) => (uriEncode(k, keepSlash = false),
        uriEncode(v, keepSlash = false)) }
      .sorted.map { case (k, v) => s"$k=$v" }.mkString("&")
    val canonicalHeaders =
      s"host:$host\nx-amz-content-sha256:$payloadHash\nx-amz-date:$ts\n"
    val signedHeaders = "host;x-amz-content-sha256;x-amz-date"
    val canonicalRequest = s"$method\n$canonicalUri\n$canonicalQuery\n" +
      s"$canonicalHeaders\n$signedHeaders\n$payloadHash"
    val scope = s"$day/$region/s3/aws4_request"
    val stringToSign = "AWS4-HMAC-SHA256\n" + ts + "\n" + scope + "\n" +
      hex(sha256(canonicalRequest.getBytes(UTF_8)))
    val signingKey = hmac(hmac(hmac(hmac(
      ("AWS4" + secretKey).getBytes(UTF_8), day), region), "s3"), "aws4_request")
    val signature = hex(hmacRaw(signingKey, stringToSign.getBytes(UTF_8)))
    Map(
      "Authorization" -> (s"AWS4-HMAC-SHA256 Credential=$accessKey/$scope, " +
        s"SignedHeaders=$signedHeaders, Signature=$signature"),
      "x-amz-date" -> ts,
      "x-amz-content-sha256" -> payloadHash)
  }

  def sha256(b: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)

  val emptyPayloadHash: String = hex(sha256(Array.emptyByteArray))

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private def hmacRaw(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data)
  }

  private def hmac(key: Array[Byte], data: String): Array[Byte] =
    hmacRaw(key, data.getBytes(UTF_8))
}
